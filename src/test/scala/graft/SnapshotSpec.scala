package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.api.Server
import graft.core.{Entity, Partitioning}
import graft.grpc.{GraftClient, GraftGrpcServer}

/** `Entity.snapshot`: one read frame, count and index set per stamp, the
  * schema recorded at write time, and leases that keep a superseded
  * version on disk while a reader still holds it. */
class SnapshotSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import SnapshotSpec._

  private lazy val base = SharedSpark.tempDir("graft-snapshot").toString
  private lazy val http = Server.start(spark, base)
  private lazy val grpc = new GraftGrpcServer(spark, base).startNetty(0)
  private lazy val client = GraftClient.connect("localhost", grpc.getPort)
  private lazy val web = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  override def afterAll(): Unit = {
    client.close()
    grpc.shutdownNow()
    http.stop()
  }

  private def post(path: String, body: String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${http.port}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val out = mapper.readTree(web.send(req, HttpResponse.BodyHandlers.ofString()).body())
    withClue(out.toString) { out.get("ok").asBoolean() shouldBe true }
    out
  }

  private def metaPath(name: String): Path = Paths.get(base, name, "_meta.json")

  /** The schema `_meta.json` records for the live version. */
  private def recorded(name: String): StructType = {
    val s = mapper.readTree(Files.readAllBytes(metaPath(name))).get("schema")
    withClue(s"$name records no schema: ") { s should not be null }
    DataType.fromJson(s.toString).asInstanceOf[StructType]
  }

  /** What a read infers: the live store's parquet schema, each attribute
    * group joined back on — the read before schemas were recorded. */
  private def inferred(e: Entity, name: String): (StructType, StructType) = {
    val primary = spark.read.parquet(Paths.get(base, name, s"data_v${e.stamp._1}").toString)
    val joined = e.attributeGroups.foldLeft(primary) { (acc, g) =>
      acc.join(e.handlerFor(g.handler).read(spark, Paths.get(base, name, g.store).toString)
        .select((Entity.ApId +: g.attrs).map(col): _*), Seq(Entity.ApId))
    }
    (primary.schema, joined.schema)
  }

  private def schemaHolds(e: Entity, name: String, after: String): Unit = withClue(s"after $after: ") {
    val (primary, read) = inferred(e, name)
    recorded(name) shouldBe primary
    Entity.open(spark, base, name).read().schema shouldBe read
  }

  private val tagged = new MetadataBuilder().putString("unit", "cm").build()

  /** `n` rows from `from`: an int key with column metadata, a
    * non-nullable float vector, a category, a nullable string, a point. */
  private def rows(from: Int, n: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(from, from + n).select(
      col("id").cast("int").as("rid", tagged),
      array(col("id").cast("float"), (col("id") % 3).cast("float"), lit(0f)).as("vec"),
      (col("id") % 4).cast("int").as("cat"),
      when(col("id") % 5 === 0, lit(null).cast("string")).otherwise(concat(lit("t"), col("id")))
        .as("tag"),
      (col("id") % 10).cast("double").as("x"), (col("id") / 10).cast("double").as("y"))
  }

  test("the schema recorded at write time equals the inferred read schema after every write") {
    val e = Entity.create(spark, base, "recorded")
    e.insert(rows(0, 40))
    schemaHolds(e, "recorded", "first write")
    e.insert(rows(40, 10))
    schemaHolds(e, "recorded", "append")
    e.insert(rows(50, 10).withColumn("extra", col("rid").cast("long")))
    schemaHolds(e, "recorded", "drift rewrite")
    e.upsert(rows(0, 5).withColumn("extra", col("rid").cast("long") * 2), "rid")
    schemaHolds(e, "recorded", "upsert")
    e.deleteWhere(col("rid") === 7)
    schemaHolds(e, "recorded", "delete")
    e.vacuum(2)
    schemaHolds(e, "recorded", "vacuum")
    e.transferAttributes(Seq("tag"), "orc")
    schemaHolds(e, "recorded", "transfer")
    e.sparsify("vec")
    schemaHolds(e, "recorded", "sparsify")

    val l = Entity.create(spark, base, "layouts")
    l.insert(rows(0, 60))
    l.partitionLayout(Partitioning.Ecp("vec", 3))
    schemaHolds(l, "layouts", "ecp layout")
    l.insert(rows(60, 5))
    schemaHolds(l, "layouts", "append under ecp")
    l.partitionLayout(Partitioning.ByColumn("tag"))
    schemaHolds(l, "layouts", "bycolumn layout")
    l.partitionLayout(Partitioning.Tile("x", "y", 2.0))
    schemaHolds(l, "layouts", "tile layout")
    l.deleteWhere(col("rid") < 3)
    schemaHolds(l, "layouts", "delete under tile")
  }

  test("an entity whose _meta.json records no schema still reads") {
    val e = Entity.create(spark, base, "legacy")
    e.insert(rows(0, 30))
    val expected = e.read().schema
    val meta = mapper.readTree(Files.readAllBytes(metaPath("legacy"))).asInstanceOf[ObjectNode]
    meta.remove("schema")
    Files.write(metaPath("legacy"), mapper.writeValueAsBytes(meta))
    e.insert(rows(30, 5)) // an append carries the absent schema forward

    val reopened = Entity.open(spark, base, "legacy")
    reopened.read().schema shouldBe expected
    reopened.read().count() shouldBe 35
    reopened.count() shouldBe 35
  }

  test("a warm read and the footer count run no Spark job") {
    val e = Entity.create(spark, base, "warm")
    e.insert(rows(0, 50))
    e.insert(rows(50, 50))
    e.read()
    val cold = jobsIn(spark)(Entity.open(spark, base, "warm").count())
    cold._2 shouldBe 100
    withClue("cold read + footer count after an insert: ") { cold._1 shouldBe 0 }
    val warm = jobsIn(spark) {
      Entity.open(spark, base, "warm").read()
      Entity.open(spark, base, "warm").schema
      Entity.open(spark, base, "warm").count()
    }
    warm shouldBe ((0, 100L))
    e.snapshot should be theSameInstanceAs Entity.open(spark, base, "warm").snapshot
  }

  test("index save, drop and repartition each retire the snapshot's index set") {
    val e = Entity.create(spark, base, "idxset")
    e.insert(rows(0, 80))
    graft.api.IndexOps.createAll(e, "vec", Seq("vaf"), idCol = "rid")
    val s0 = e.snapshot
    val loaded = e.loadIndex("vaf_vec")
    e.loadIndex("vaf_vec") should be theSameInstanceAs loaded // loaded once per snapshot
    s0.freshIndexes should have size 1

    e.repartitionIndex("vaf_vec", Partitioning.Hash(Seq("rid"), 3))
    val s1 = e.snapshot
    s1 should not be theSameInstanceAs(s0)
    s1.stamp shouldBe s0.stamp
    val reloaded = e.loadIndex("vaf_vec")
    reloaded should not be theSameInstanceAs(loaded)
    // the old copy's table was swapped away: only the reload still scans
    val nnq = graft.api.NnQuery("vec", Seq(1.0, 1.0, 0.0), "euclidean", 5)
    graft.api.QueryOps.index(s1.frame, "rid", reloaded.index, nnq).count() shouldBe 5

    graft.api.IndexOps.createAll(e, "vec", Seq("sq"), idCol = "rid")
    val s2 = e.snapshot
    s2 should not be theSameInstanceAs(s1)
    s2.freshIndexes.map(_.indexType).sorted shouldBe Seq("sq", "vaf")

    e.dropIndex("sq_vec")
    e.snapshot should not be theSameInstanceAs(s2)
    e.freshIndexes.map(_.indexType) shouldBe Seq("vaf")
  }

  test("a leased read survives a vacuum and a delete through the HTTP door") {
    val e = Entity.create(spark, base, "leased")
    e.insert(rows(0, 40))
    val v1 = e.stamp._1
    val v1Dir = Paths.get(base, "leased", s"data_v$v1")
    Entity.leasing {
      val before = e.read()
      post("/entity/vacuum", """{"name":"leased","partitions":2}""")
      Files.exists(v1Dir) shouldBe true
      before.collect().map(_.getInt(0)).sorted shouldBe (0 until 40)
    }
    withClue("released: ") { Files.exists(v1Dir) shouldBe false }
    e.versions shouldBe Seq(v1 + 1)

    Entity.leasing {
      val before = e.read()
      post("/entity/delete",
        """{"name":"leased","predicates":[{"attribute":"rid","op":"<","values":[10]}]}""")
      before.count() shouldBe 40
      Entity.open(spark, base, "leased").read().count() shouldBe 30
    }
    e.versions shouldBe Seq(v1 + 2)
  }

  test("rows inserted over HTTP are visible to the next gRPC read") {
    client.createEntity("crossdoor", Seq("rid" -> "int", "vec" -> "vector")).get
    client.insert("crossdoor",
      (0 until 20).map(r => Map[String, Any]("rid" -> r, "vec" -> Seq(r.toFloat, 0f)))).get
    client.count("crossdoor").get shouldBe 20 // warms the snapshot
    val near = Some(GraftClient.Nnq("vec", Seq(100f, 0f), k = 1))
    client.query("crossdoor", near).get.head.rows.head("rid") shouldBe 19

    post("/entity/insert", """{"name":"crossdoor","rows":[{"rid":100,"vec":[100.0,0.0]}]}""")
    client.count("crossdoor").get shouldBe 21
    client.query("crossdoor", near).get.head.rows.head("rid") shouldBe 100
  }

  test("CacheEntity pins the snapshot: an insert after it is visible to the next query") {
    client.createEntity("pinned", Seq("rid" -> "int", "vec" -> "vector")).get
    client.insert("pinned",
      (0 until 20).map(r => Map[String, Any]("rid" -> r, "vec" -> Seq(r.toFloat, 0f)))).get
    client.cacheEntity("pinned").get
    val s = Entity.open(spark, base, "pinned").snapshot
    s.frame.storageLevel.useMemory shouldBe true

    client.insert("pinned", Seq(Map[String, Any]("rid" -> 100, "vec" -> Seq(100f, 0f)))).get
    s.frame.storageLevel.useMemory shouldBe false // retired with its snapshot
    val near = Some(GraftClient.Nnq("vec", Seq(100f, 0f), k = 1))
    client.query("pinned", near).get.head.rows.head("rid") shouldBe 100
  }

  test("count and deleteWhere read the footers under a base path that needs escaping") {
    val odd = SharedSpark.tempDir("graft snapshot %20 ").toString
    val e = Entity.create(spark, odd, "escaped")
    e.insert(rows(0, 30))
    e.insert(rows(30, 10))
    Entity.open(spark, odd, "escaped").count() shouldBe 40
    e.deleteWhere(col("rid") < 5) shouldBe 5
    Entity.open(spark, odd, "escaped").count() shouldBe 35
  }

  test("inserts under a bycolumn layout record the partition type a read infers") {
    import org.apache.spark.sql.functions._
    def coded(from: Int, code: Column) = rows(from, 6).withColumn("code", code)
    // keys that are all null type the partition column void; a key '001'
    // makes a read infer int
    val n = Entity.create(spark, base, "nullkeys")
    n.insert(coded(0, lit(null).cast("string")))
    n.partitionLayout(Partitioning.ByColumn("code"))
    schemaHolds(n, "nullkeys", "bycolumn over null keys")
    n.insert(coded(10, lit("001")))
    schemaHolds(n, "nullkeys", "insert of a numeric-looking key")
    n.read().count() shouldBe 12

    // numeric-looking keys type it int; a key 'abc' makes it a string, and
    // the stored rows keep their directories ('001', not '1')
    val k = Entity.create(spark, base, "numkeys")
    k.insert(coded(0, format_string("%03d", col("rid") % 2 + 1)))
    k.partitionLayout(Partitioning.ByColumn("code"))
    schemaHolds(k, "numkeys", "bycolumn over numeric-looking keys")
    k.insert(coded(10, lit("abc")))
    schemaHolds(k, "numkeys", "insert of a non-numeric key")
    k.insert(coded(20, lit("003")))
    schemaHolds(k, "numkeys", "append of a further key")
    k.read().select(Partitioning.PartitionCol).distinct().collect().map(_.getString(0)).toSet shouldBe
      Set("001", "002", "abc", "003")
    k.readPrunedKeys(Seq("001")).count() shouldBe 3
  }

  test("a stream insert that crosses auto-vacuum frees the old version while it runs") {
    val e = Entity.create(spark, base, "streamed")
    e.insert(rows(0, 4).select("rid", "cat"))
    val v0 = e.stamp._1
    val conn = new java.net.URL(
      s"http://127.0.0.1:${http.port}/entity/insert/stream?entity=streamed&batchSize=4")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setDoOutput(true)
    conn.setRequestMethod("POST")
    conn.setChunkedStreamingMode(0)
    val out = conn.getOutputStream
    def send(from: Int, n: Int): Unit = {
      (from until from + n).foreach(r => out.write(s"""{"rid":$r,"cat":${r % 4}}\n""".getBytes))
      out.flush()
    }
    // a few rows per batch give a few part files per batch: 60 batches
    // pass the 100-part-file auto-vacuum trigger
    send(100, 240)
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!(e.stamp._1 > v0 && e.versions.size == 1) && System.nanoTime() < deadline)
      Thread.sleep(50)
    withClue(s"versions while the stream runs, at stamp ${e.stamp}: ") {
      e.stamp._1 should be > v0
      e.versions should have size 1
    }
    send(1000, 4)
    out.close()
    val reply = mapper.readTree(conn.getInputStream.readAllBytes())
    withClue(reply.toString) { reply.get("ok").asBoolean() shouldBe true }
    reply.get("inserted").asInt() shouldBe 244
    Entity.open(spark, base, "streamed").count() shouldBe 248
  }

  test("a cached snapshot is not served after another process drops and re-creates the entity") {
    val e = Entity.create(spark, base, "reborn")
    e.insert(rows(0, 20))
    e.count() shouldBe 20
    val cachedStamp = e.stamp
    // a second path to the same directory shares no state with this one,
    // as a second process would not
    val other = SharedSpark.tempDir("graft-snapshot-other").resolve("base")
    Files.createSymbolicLink(other, Paths.get(base).toAbsolutePath)
    Entity.open(spark, other.toString, "reborn").drop()
    Entity.create(spark, other.toString, "reborn").insert(rows(100, 7))
    e.stamp shouldBe cachedStamp
    val reopened = Entity.open(spark, base, "reborn")
    reopened.count() shouldBe 7
    reopened.read().select("rid").collect().map(_.getInt(0)).sorted shouldBe (100 until 107)
  }

  test("the rerank semi-join takes candidate ids without a distinct aggregate") {
    import spark.implicits._
    val data = (0 until 50).map(i => (i, Array(i.toFloat, 0f))).toDF("tid", "vec")
    val candidates = Seq(3, 3, 4, 4, 5).toDF("tid")
    val q = graft.functions.Distances.vecLit(Seq(4.0, 0.0))
    val reranked = graft.operators.Knn.rerank(data, candidates, "tid",
      graft.functions.Distances.euclidean(col("vec"), q), 3)
    reranked.select("tid").as[Int].collect().toSeq shouldBe Seq(4, 3, 5)
    val plan = reranked.queryExecution.executedPlan.toString
    plan should include("LeftSemi")
    plan should not include "HashAggregate"
  }
}

object SnapshotSpec {
  /** (Spark jobs `f` started on this thread, its result). A sentinel job
    * run after `f` marks the listener caught up: events arrive in order. */
  def jobsIn[T](spark: org.apache.spark.sql.SparkSession)(f: => T): (Int, T) = {
    val sc = spark.sparkContext
    val key = "graft.snapshotspec"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "measured")
      val out = try f finally sc.setLocalProperty(key, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      if (!seen.contains("sentinel"))
        throw new IllegalStateException("the listener never saw the sentinel job")
      (seen.toArray.count(_ == "measured"), out)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
