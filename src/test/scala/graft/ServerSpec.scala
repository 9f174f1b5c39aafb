package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.api.Server

/** JSON-over-HTTP front door: DDL/DML/query round trip through the wire
  * protocol (the reference's gRPC DataDefinition/DataQuery surface). */
class ServerSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private lazy val base = SharedSpark.tempDir("graft-srv").toString
  private lazy val server = Server.start(spark, base)
  private lazy val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  private def post(path: String, body: String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.port}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    mapper.readTree(client.send(req, HttpResponse.BodyHandlers.ofString()).body())
  }

  test("entity DDL/DML + boolean and knn queries over the wire") {
    post("/entity/create", """{"name":"wire"}""").get("ok").asBoolean() shouldBe true

    val rows = (0 until 50).map(i =>
      s"""{"vid":$i,"grp":${i % 3},"vec":[${i % 7}.0,${(i * 3) % 5}.0]}""")
      .mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"wire","rows":$rows}""")
      .get("inserted").asInt() shouldBe 50

    post("/entity/count", """{"name":"wire"}""").get("count").asLong() shouldBe 50
    post("/entity/list", "{}").get("entities").get(0).asText() shouldBe "wire"

    val bool = post("/query/boolean",
      """{"entity":"wire","predicates":[{"attribute":"grp","op":"=","values":[1]}]}""")
    bool.get("rows").size() shouldBe 17

    val knn = post("/query/knn",
      """{"entity":"wire","idCol":"vid","vecCol":"vec","q":[0.0,0.0],"k":5,"dist":"manhattan"}""")
    knn.get("rows").size() shouldBe 5
    knn.get("rows").get(0).get("distance").asDouble() shouldBe 0.0 // vid 0 is (0,0)

    post("/entity/delete",
      """{"name":"wire","predicates":[{"attribute":"grp","op":"=","values":[2]}]}""")
      .get("deleted").asLong() shouldBe 16
    post("/entity/count", """{"name":"wire"}""").get("count").asLong() shouldBe 34
  }

  test("stored index scan over the wire with staleness flag") {
    post("/entity/create", """{"name":"widx"}""")
    val rows = (0 until 80).map(i =>
      s"""{"vid":$i,"vec":[${i % 9}.0,${(i * 2) % 7}.0,${i % 4}.0]}""")
      .mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"widx","rows":$rows}""")
    post("/index/create",
      """{"entity":"widx","name":"main","type":"vaf","idCol":"vid","vecCol":"vec"}""")
      .get("index").asText() shouldBe "main"
    post("/index/list", """{"entity":"widx"}""").get("indexes").get(0).asText() shouldBe "main"

    val q1 = post("/query/knn",
      """{"entity":"widx","idCol":"vid","vecCol":"vec","q":[1.0,2.0,1.0],"k":3,"index":"main"}""")
    q1.get("stale").asBoolean() shouldBe false
    q1.get("rows").size() shouldBe 3

    post("/entity/insert", """{"name":"widx","rows":[{"vid":999,"vec":[0.0,0.0,0.0]}]}""")
    post("/query/knn",
      """{"entity":"widx","idCol":"vid","vecCol":"vec","q":[1.0,2.0,1.0],"k":3,"index":"main"}""")
      .get("stale").asBoolean() shouldBe true

    // refresh rebuilds over current data with the create-time recipe:
    // the stale flag clears and the new row is servable
    post("/index/refresh", """{"entity":"widx","name":"main"}""")
      .get("index").asText() shouldBe "main"
    val q2 = post("/query/knn",
      """{"entity":"widx","idCol":"vid","vecCol":"vec","q":[0.0,0.0,0.0],"k":2,"index":"main"}""")
    q2.get("stale").asBoolean() shouldBe false
    // vid 0 also sits at the origin — both zero-distance rows surface,
    // which proves the refreshed index covers the appended row
    (0 until q2.get("rows").size()).map(i =>
      q2.get("rows").get(i).get("vid").asLong()).toSet shouldBe Set(0L, 999L)

    // per-type build options (same contract as gRPC IndexMessage.options)
    post("/index/create",
      """{"entity":"widx","name":"tuned","type":"lsh","idCol":"vid","vecCol":"vec",
        |"options":{"ntables":"4","nhashes":"1","probes":"1"}}""".stripMargin)
      .get("index").asText() shouldBe "tuned"
    post("/query/knn",
      """{"entity":"widx","idCol":"vid","vecCol":"vec","q":[1.0,2.0,1.0],"k":3,"index":"tuned"}""")
      .get("rows").size() shouldBe 3
    // a typo'd option is an error response, never a silent default build
    post("/index/create",
      """{"entity":"widx","name":"bad","type":"pq","idCol":"vid","vecCol":"vec",
        |"options":{"ntable":"4"}}""".stripMargin)
      .get("ok").asBoolean() shouldBe false
  }

  test("full-text query modes over the wire") {
    post("/entity/create", """{"name":"wtxt"}""")
    post("/entity/insert",
      """{"name":"wtxt","rows":[
        |{"doc_id":1,"body":"spark joins the fast table"},
        |{"doc_id":2,"body":"the slow table"},
        |{"doc_id":3,"body":"nothing here"}]}""".stripMargin)
    post("/query/text",
      """{"entity":"wtxt","textCol":"body","mode":"all","terms":["fast","table"]}""")
      .get("rows").size() shouldBe 1
    post("/query/text",
      """{"entity":"wtxt","textCol":"body","mode":"any","terms":["fast","slow"]}""")
      .get("rows").size() shouldBe 2
    post("/query/text",
      """{"entity":"wtxt","textCol":"body","mode":"phrase","terms":["fast","table"]}""")
      .get("rows").size() shouldBe 1
    val bm = post("/query/text",
      """{"entity":"wtxt","textCol":"body","idCol":"doc_id","mode":"bm25","terms":["table"],"k":5}""")
    bm.get("rows").size() shouldBe 2

    // the INDEX-served mode returns the identical ranking (the layout
    // builds lazily inside the entity dir on first use)...
    def ranked(mode: String) = post("/query/text",
      s"""{"entity":"wtxt","textCol":"body","idCol":"doc_id","mode":"$mode","terms":["table"],"k":5}""")
      .get("rows").elements().asScala.toSeq
      .map(r => (r.get("doc_id").asLong(), r.get("score").asDouble()))
    ranked("bm25_indexed") shouldBe ranked("bm25")
    // ...and a MUTATION staleness-rebuilds it: a new doc with the term
    // must appear in the indexed ranking without any explicit refresh
    post("/entity/insert",
      """{"name":"wtxt","rows":[{"doc_id":4,"body":"table table table"}]}""")
      .get("inserted").asInt() shouldBe 1
    val after = ranked("bm25_indexed")
    after.map(_._1) should contain(4L)
    after shouldBe ranked("bm25")

    // distinct id columns get DISTINCT layouts: scoring by alt_id must
    // return alt ids, not a cached doc_id layout (regression: the cache
    // key once omitted idCol)
    post("/entity/create", """{"name":"wtxt2"}""")
    post("/entity/insert",
      """{"name":"wtxt2","rows":[
        |{"doc_id":1,"alt_id":101,"body":"table talk"},
        |{"doc_id":2,"alt_id":102,"body":"no match"}]}""".stripMargin)
    def ids(idCol: String) = post("/query/text",
      s"""{"entity":"wtxt2","textCol":"body","idCol":"$idCol","mode":"bm25_indexed","terms":["table"],"k":5}""")
      .get("rows").elements().asScala.toSeq.map(_.get("doc_id").asLong())
    ids("doc_id") shouldBe Seq(1L)
    ids("alt_id") shouldBe Seq(101L)
    // missing idCol: clean error, not an NPE
    val bad = post("/query/text",
      """{"entity":"wtxt2","textCol":"body","mode":"bm25_indexed","terms":["table"]}""")
    bad.get("ok").asBoolean() shouldBe false
    bad.get("error").asText() should include("idCol")
    post("/entity/drop", """{"name":"wtxt2"}""")
  }

  test("query results page at 500 rows with a walkable pageToken") {
    post("/entity/create", """{"name":"wpage"}""")
    // 3 batches of 400 = 1200 matching rows -> pages 500/500/200
    (0 until 3).foreach { b =>
      val rows = (0 until 400).map(i => s"""{"vid":${b * 400 + i},"grp":1}""")
        .mkString("[", ",", "]")
      post("/entity/insert", s"""{"name":"wpage","rows":$rows}""")
    }
    val p1 = post("/query/boolean",
      """{"entity":"wpage","predicates":[{"attribute":"grp","op":"=","values":[1]}]}""")
    p1.get("rows").size() shouldBe 500
    p1.get("totalRows").asInt() shouldBe 1200
    p1.has("pageToken") shouldBe true
    val p2 = post("/query/page", s"""{"pageToken":"${p1.get("pageToken").asText()}"}""")
    p2.get("rows").size() shouldBe 500
    p2.has("pageToken") shouldBe true
    val p3 = post("/query/page", s"""{"pageToken":"${p2.get("pageToken").asText()}"}""")
    p3.get("rows").size() shouldBe 200
    p3.has("pageToken") shouldBe false // cursor exhausted
    // all 1200 distinct ids arrived exactly once across the pages
    val seen = Seq(p1, p2, p3).flatMap { p =>
      import scala.jdk.CollectionConverters._
      p.get("rows").elements().asScala.map(_.get("vid").asInt()).toSeq
    }
    seen.distinct.size shouldBe 1200
    // a consumed token is gone
    post("/query/page", s"""{"pageToken":"${p1.get("pageToken").asText()}"}""")
      .get("ok").asBoolean() shouldBe false
  }

  test("streaming insert commits per-batch with acks") {
    post("/entity/create", """{"name":"wstream"}""")
    val body = (0 until 1250).map(i => s"""{"vid":$i,"v":"r$i"}""").mkString("\n")
    val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${server.port}/entity/insert/stream?entity=wstream&batchSize=500"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = mapper.readTree(client.send(req, HttpResponse.BodyHandlers.ofString()).body())
    resp.get("ok").asBoolean() shouldBe true
    resp.get("inserted").asInt() shouldBe 1250
    resp.get("acks").size() shouldBe 3 // 500 + 500 + 250
    import scala.jdk.CollectionConverters._
    resp.get("acks").elements().asScala.foreach(_.get("code").asText() shouldBe "OK")
    post("/entity/count", """{"name":"wstream"}""").get("count").asLong() shouldBe 1250
  }

  test("progressive query streams per-plan observations then done") {
    post("/entity/create", """{"name":"wprog"}""")
    val rows = (0 until 60).map(i =>
      s"""{"vid":$i,"vec":[${i % 9}.0,${(i * 2) % 7}.0,${i % 4}.0]}""")
      .mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"wprog","rows":$rows}""")
    post("/index/create",
      """{"entity":"wprog","name":"m","type":"ecp","idCol":"vid","vecCol":"vec"}""")
    val lines = post0("/query/progressive",
      """{"entity":"wprog","idCol":"vid","vecCol":"vec","q":[1.0,2.0,1.0],"k":3}""")
      .split("\n").filter(_.nonEmpty).map(mapper.readTree)
    lines.length shouldBe 3 // sequential + index:ecp observations + done
    val obs = lines.filterNot(_.has("done"))
    obs.map(_.get("source").asText()).toSet shouldBe Set("sequential", "index:ecp")
    obs.foreach { o =>
      o.get("ok").asBoolean() shouldBe true
      o.get("rowCount").asInt() shouldBe 3
      o.get("rows").size() shouldBe 3
      // array columns stream as JSON arrays, not stringified Seqs
      o.get("rows").get(0).get("vec").isArray shouldBe true
      o.get("rows").get(0).get("vec").size() shouldBe 3
    }
    lines.last.get("done").asBoolean() shouldBe true
    // timed variant returns the single best observation
    val timed = post0("/query/progressive",
      """{"entity":"wprog","idCol":"vid","vecCol":"vec","q":[1.0,2.0,1.0],"k":3,"timedDeadlineMs":60000}""")
      .split("\n").filter(_.nonEmpty).map(mapper.readTree)
    timed.length shouldBe 2
    timed.head.get("source").asText() shouldBe "sequential" // confidence 1.0 wins
    timed.last.get("done").asBoolean() shouldBe true
    // hints restrict the racing set (QueryHintsParallelPathChooser)
    val hinted = post0("/query/progressive",
      """{"entity":"wprog","idCol":"vid","vecCol":"vec","q":[1.0,2.0,1.0],"k":3,"hints":["ecp"]}""")
      .split("\n").filter(_.nonEmpty).map(mapper.readTree)
    hinted.length shouldBe 2 // single hinted plan + done
    hinted.head.get("source").asText() shouldBe "index:ecp"
  }

  /** POST returning the raw (possibly multi-line) body. */
  private def post0(path: String, body: String): String = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.port}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    client.send(req, HttpResponse.BodyHandlers.ofString()).body()
  }

  test("planner hints over the wire pick the index or sequential plan") {
    post("/entity/create", """{"name":"whint"}""")
    val rows = (0 until 80).map(i =>
      s"""{"vid":$i,"vec":[${i % 9}.0,${(i * 2) % 7}.0,${i % 4}.0]}""")
      .mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"whint","rows":$rows}""")
    post("/index/create",
      """{"entity":"whint","name":"v","type":"vaf","idCol":"vid","vecCol":"vec"}""")
    val seqR = post("/query/knn",
      """{"entity":"whint","idCol":"vid","vecCol":"vec","q":[1.0,2.0,1.0],"k":5,"hints":["sequential"]}""")
    seqR.get("plan").asText() shouldBe "sequential"
    val idxR = post("/query/knn",
      """{"entity":"whint","idCol":"vid","vecCol":"vec","q":[1.0,2.0,1.0],"k":5,"hints":["exact"]}""")
    idxR.get("plan").asText() shouldBe "index:vaf"
    // exact index + rerank: identical result set either way
    import scala.jdk.CollectionConverters._
    def ids(n: com.fasterxml.jackson.databind.JsonNode) =
      n.get("rows").elements().asScala.map(_.get("vid").asLong()).toSeq
    ids(idxR) shouldBe ids(seqR)
    // unknown hint names drop; empty walk falls back to sequential
    post("/query/knn",
      """{"entity":"whint","idCol":"vid","vecCol":"vec","q":[1.0,2.0,1.0],"k":5,"hints":["bogus"]}""")
      .get("plan").asText() shouldBe "sequential"
  }

  test("knn over a sparsified entity works through the wire (sparse dispatch)") {
    post("/entity/create", """{"name":"wsparse"}""")
    val rows = (0 until 40).map(i =>
      s"""{"vid":$i,"vec":[${i % 5}.0,${(i * 2) % 7}.0,0.0]}""").mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"wsparse","rows":$rows}""")
    graft.api.EntityOps.sparsify(
      graft.core.Entity.open(spark, base, "wsparse"), "vec")
    val knn = post("/query/knn",
      """{"entity":"wsparse","idCol":"vid","vecCol":"vec","q":[0.0,0.0,0.0],"k":3}""")
    knn.get("ok").asBoolean() shouldBe true
    knn.get("rows").size() shouldBe 3
    knn.get("rows").get(0).get("distance").asDouble() shouldBe 0.0 // vid 0 is the origin
  }

  test("pipeline endpoints: verdicts, sampling, and dedup over the wire") {
    post("/entity/create", """{"name":"pipe"}""").get("ok").asBoolean() shouldBe true
    val rows = (0 until 40).map { i =>
      val text = if (i % 4 == 0) "spam spam spam spam spam spam spam spam"
        else s"the data pipeline number $i reads a table of documents and writes " +
          "the filtered rows to a new table for training and audit"
      s"""{"did":$i,"txt":"$text"}"""
    }.mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"pipe","rows":$rows}""")
      .get("inserted").asInt() shouldBe 40

    val verdicts = post("/pipeline/verdicts",
      """{"entity":"pipe","textCol":"txt","idCol":"did","minQuality":0.0,
        |"maxDupTokenFrac":0.6}""".stripMargin)
    verdicts.get("ok").asBoolean() shouldBe true
    val vRows = verdicts.get("rows").elements().asScala.toSeq
    vRows.size shouldBe 40
    // the dup-heavy docs (every 4th) are dropped with a reason
    vRows.count(_.get("reason").asText() == "dup_tokens") shouldBe 10
    vRows.count(_.get("keep").asBoolean()) shouldBe 30

    val sampled = post("/pipeline/sample",
      """{"entity":"pipe","mode":"exact","keyCol":"did","n":7}""")
    sampled.get("rows").size() shouldBe 7

    val bern = post("/pipeline/sample",
      """{"entity":"pipe","mode":"bernoulli","keyCol":"did","fraction":1.0}""")
    bern.get("rows").size() shouldBe 40

    val survivors = post("/pipeline/dedup",
      """{"entity":"pipe","textCol":"txt","idCol":"did","threshold":0.8}""")
    survivors.get("ok").asBoolean() shouldBe true
    // the 10 identical spam docs collapse to one survivor
    survivors.get("rows").size() shouldBe 31

    // packing: one assignment row per doc, offsets integer-exact
    val packed = post("/pipeline/pack",
      """{"entity":"pipe","idCol":"did","tokenCol":"did","budget":64,"shards":2}""")
    packed.get("ok").asBoolean() shouldBe true
    packed.get("rows").size() shouldBe 40

    // chunk-boundary rows: every doc spans >= 1 chunk; per-doc token
    // shares sum back to the token column
    val packRows = post("/pipeline/pack",
      """{"entity":"pipe","idCol":"did","tokenCol":"did","budget":64,"shards":2,"rows":true}""")
    packRows.get("ok").asBoolean() shouldBe true
    val pr = packRows.get("rows").elements().asScala.toSeq
    pr.size should be >= 39 // doc 0 has zero tokens -> no rows
    pr.map(_.get("tok_in_chunk").asLong()).sum shouldBe (1 until 40).sum.toLong

    // weighted sampling from a column of per-row probabilities
    val weighted = post("/pipeline/sample",
      """{"entity":"pipe","mode":"weighted","keyCol":"did","weightCol":"did"}""")
    weighted.get("ok").asBoolean() shouldBe true
    // did >= 1 clamps to probability 1.0; only did=0 (weight 0) drops
    weighted.get("rows").size() shouldBe 39

    // token-budget sampling: domain = text value, token count = did.
    // Spam domain (10 docs, toks 0,4,8,..,36, id order): 0 and 4 admit
    // under cum_before < 10, 8 admits crossing the budget, 12+ drop.
    // Every unique-text domain admits its single doc (cum_before 0).
    val tb = post("/pipeline/sample",
      """{"entity":"pipe","mode":"token_budget","keyCol":"did",
        |"domainCol":"txt","tokenCol":"did","defaultBudget":10}""".stripMargin)
    tb.get("ok").asBoolean() shouldBe true
    tb.get("rows").size() shouldBe 33

    // epoch-mix oversampling: spam text repeats 2x exactly (whole epochs)
    val em = post("/pipeline/sample",
      """{"entity":"pipe","mode":"epoch_mix","keyCol":"txt","domainCol":"txt",
        |"epochs":{"spam spam spam spam spam spam spam spam":2.0},
        |"defaultEpochs":1.0}""".stripMargin)
    em.get("ok").asBoolean() shouldBe true
    em.get("rows").size() shouldBe 50 // 30 prose + 10 spam x 2

    // sqrt-temperature rebalance over the wire: 30/10 domains flatten
    // toward sqrt shares — the minority domain's factor exceeds 1, the
    // majority's drops below, and the corpus size is roughly preserved
    val tm = post("/pipeline/sample",
      """{"entity":"pipe","mode":"temperature_mix","keyCol":"txt","domainCol":"txt"}""")
    tm.get("ok").asBoolean() shouldBe true
    val tmRows = tm.get("rows").elements().asScala.toSeq
    tmRows.size should be >= 30
    tmRows.size should be <= 50

    // boilerplate removal over the wire: the spam docs are one fully
    // duplicated 8-token window -> erased to empty; the prose docs share
    // their tokens[8..15] window (the number token keeps window 0 unique)
    val stripped = post("/pipeline/strip_chunks",
      """{"entity":"pipe","textCol":"txt","idCol":"did","window":8,"stride":8}""")
    stripped.get("ok").asBoolean() shouldBe true
    val sRows = stripped.get("rows").elements().asScala.toSeq
    sRows.size shouldBe 40
    sRows.foreach(_.get("n_removed").asLong() shouldBe 8L)
    sRows.filter(_.get("did").asInt() % 4 == 0)
      .foreach(_.get("cleaned_text").asText() shouldBe "")
    val prose = sRows.find(_.get("did").asInt() == 1).get.get("cleaned_text").asText()
    prose should startWith("the data pipeline number 1")
    prose should not include "of documents and writes"

    // near-dup clustering: the 10 identical spam docs form ONE component
    // whose representative is the smallest id (0), everything else solo
    val comps = post("/pipeline/components",
      """{"entity":"pipe","textCol":"txt","idCol":"did","threshold":0.8}""")
    comps.get("ok").asBoolean() shouldBe true
    val cRows = comps.get("rows").elements().asScala.toSeq
    cRows.size shouldBe 10 // only nodes appearing in near-dup pairs
    cRows.map(_.get("component").asLong()).toSet shouldBe Set(0L)

    // contamination: docs vs a small benchmark entity
    post("/entity/create", """{"name":"bench"}""")
    post("/entity/insert",
      """{"name":"bench","rows":[{"did":1,"txt":"spam spam spam spam spam spam spam spam"}]}""")
    val contaminated = post("/pipeline/contamination",
      """{"entity":"pipe","bench":"bench","textCol":"txt","idCol":"did","threshold":0.8}""")
    contaminated.get("ok").asBoolean() shouldBe true
    contaminated.get("rows").size() shouldBe 10 // every spam doc contains the item

    // unigram LM scores: every doc scored; the 10 identical spam docs
    // share one (low) score, tokens frequent in the corpus
    val ppl = post("/pipeline/logppl",
      """{"entity":"pipe","textCol":"txt","idCol":"did"}""")
    ppl.get("ok").asBoolean() shouldBe true
    val pplRows = ppl.get("rows").elements().asScala.toSeq
    pplRows.size shouldBe 40
    pplRows.filter(_.get("id").asInt() % 4 == 0)
      .map(_.get("log_ppl").asDouble()).distinct.size shouldBe 1

    // repeated chunks: the 10 identical spam docs share their one 8-token
    // window; the 30 distinct docs share exactly the two windows that
    // avoid their varying "$i" token (starts 8 and 12)
    val chunks = post("/pipeline/chunks",
      """{"entity":"pipe","textCol":"txt","idCol":"did","window":8,"stride":4}""")
    chunks.get("ok").asBoolean() shouldBe true
    val chRows = chunks.get("rows").elements().asScala.toSeq
    chRows.size shouldBe 3
    chRows.map(_.get("n_docs").asLong()).sorted shouldBe Seq(10L, 30L, 30L)

    post("/entity/drop", """{"name":"bench"}""")
    post("/entity/drop", """{"name":"pipe"}""")
  }

  test("learned quality filter over the wire: train on labels, score an entity") {
    post("/entity/create", """{"name":"lblq"}""").get("ok").asBoolean() shouldBe true
    val rows = ((0 until 10).map(i =>
      s"""{"did":$i,"txt":"the careful analysis of the data shows the result $i is fine","lbl":1}""") ++
      (100 until 110).map(i =>
        s"""{"did":$i,"txt":"buy$i buy$i buy$i spam spam spam click click","lbl":-1}"""))
      .mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"lblq","rows":$rows}""")
      .get("inserted").asInt() shouldBe 20
    val scored = post("/pipeline/quality_score",
      """{"entity":"lblq","labeled":"lblq","textCol":"txt","idCol":"did","labelCol":"lbl"}""")
    scored.get("ok").asBoolean() shouldBe true
    val byId = scored.get("rows").elements().asScala.toSeq
      .map(r => r.get("id").asInt() -> r.get("score").asDouble()).toMap
    byId.size shouldBe 20
    (0 until 10).map(byId(_)).min should be >
      (100 until 110).map(byId(_)).max
    post("/entity/drop", """{"name":"lblq"}""")
  }

  test("semantic dedup over the wire: survivors and pair forms") {
    post("/entity/create", """{"name":"sem"}""").get("ok").asBoolean() shouldBe true
    // ids 0/1 double as the k=2 centroids; 2 near-dups 0, 4 near-dups 1,
    // 3 sits between clusters below the threshold
    post("/entity/insert",
      """{"name":"sem","rows":[
        |{"vid":0,"v":[1.0,0.0,0.0,0.0]},
        |{"vid":1,"v":[0.0,1.0,0.0,0.0]},
        |{"vid":2,"v":[1.0,0.001,0.0,0.0]},
        |{"vid":3,"v":[0.9,0.9,0.0,0.0]},
        |{"vid":4,"v":[0.0,1.0,0.001,0.0]}]}""".stripMargin)
      .get("inserted").asInt() shouldBe 5
    val surv = post("/pipeline/semantic_dedup",
      """{"entity":"sem","idCol":"vid","vecCol":"v","k":2,"threshold":0.999}""")
    surv.get("ok").asBoolean() shouldBe true
    surv.get("rows").elements().asScala.map(_.get("vid").asInt()).toSeq shouldBe
      Seq(0, 1, 3)
    val pairs = post("/pipeline/semantic_dedup",
      """{"entity":"sem","idCol":"vid","vecCol":"v","k":2,"threshold":0.999,"pairs":true}""")
    pairs.get("ok").asBoolean() shouldBe true
    pairs.get("rows").elements().asScala
      .map(r => (r.get("id_a").asInt(), r.get("id_b").asInt())).toSeq shouldBe
      Seq((0, 2), (1, 4))
    // trained-centroid form: identical copies always share a cell, so
    // the exact dup pairs survive k-means clustering too
    val trained = post("/pipeline/semantic_dedup",
      """{"entity":"sem","idCol":"vid","vecCol":"v","k":2,"threshold":0.999,
        |"train":true,"pairs":true}""".stripMargin)
    trained.get("ok").asBoolean() shouldBe true
    trained.get("rows").elements().asScala
      .map(r => (r.get("id_a").asInt(), r.get("id_b").asInt())).toSet shouldBe
      Set((0, 2), (1, 4))
    post("/entity/drop", """{"name":"sem"}""")
  }

  test("keep-best, shuffle, and hybrid search over the wire") {
    post("/entity/create", """{"name":"kb"}""").get("ok").asBoolean() shouldBe true
    // 0/1 near-dup (1 longer -> kept); 2 unique; each row carries an
    // embedding so hybrid search runs over the same entity
    post("/entity/insert",
      """{"name":"kb","rows":[
        |{"did":0,"txt":"the quick brown fox jumps over the lazy dog again and again","v":[1.0,0.0,0.0,0.0]},
        |{"did":1,"txt":"the quick brown fox jumps over the lazy dog again and again today","v":[0.0,1.0,0.0,0.0]},
        |{"did":2,"txt":"completely different content about fast spark query engines","v":[0.0,0.0,1.0,0.0]}]}""".stripMargin)
      .get("inserted").asInt() shouldBe 3
    val kept = post("/pipeline/keep_best",
      """{"entity":"kb","textCol":"txt","idCol":"did","threshold":0.4}""")
    kept.get("ok").asBoolean() shouldBe true
    kept.get("rows").elements().asScala.map(_.get("did").asInt()).toSeq shouldBe
      Seq(1, 2) // 1 outlives 0 (longer); 2 unclustered
    val shuf = post("/pipeline/shuffle", """{"entity":"kb","idCol":"did","seed":42}""")
    shuf.get("ok").asBoolean() shouldBe true
    shuf.get("rows").elements().asScala.map(_.get("did").asInt()).toSet shouldBe
      Set(0, 1, 2) // permutation, keys attached
    // "fast" matches only doc 2 lexically; the query vector is doc 2's
    // embedding -> doc 2 tops both lists and wins the fusion
    val hyb = post("/search/hybrid",
      """{"entity":"kb","idCol":"did","textCol":"txt","vecCol":"v",
        |"terms":["fast"],"q":[0.0,0.0,1.0,0.0],"k":2}""".stripMargin)
    hyb.get("ok").asBoolean() shouldBe true
    hyb.get("rows").elements().asScala.map(_.get("did").asInt()).toSeq.head shouldBe 2
    post("/entity/drop", """{"name":"kb"}""")
  }

  test("declarative pipeline runner over the wire") {
    post("/entity/create", """{"name":"prun"}""").get("ok").asBoolean() shouldBe true
    val rows = (0 until 20).map { i =>
      val text = if (i < 2) "identical duplicate content shared by the first two docs"
        else s"document number $i with its own words about engine internals"
      s"""{"did":$i,"txt":"$text"}"""
    }.mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"prun","rows":$rows}""")
      .get("inserted").asInt() shouldBe 20
    // exact dedup collapses docs 0/1, then shuffle, then pack
    val r = post("/pipeline/run",
      """{"entity":"prun","textCol":"txt","idCol":"did","stages":[
        |{"op":"exact_dedup"},
        |{"op":"shuffle","seed":7},
        |{"op":"pack","budget":16,"shards":2}]}""".stripMargin)
    r.get("ok").asBoolean() shouldBe true
    val ids = r.get("rows").elements().asScala.map(_.get("id").asInt()).toSet
    ids.size shouldBe 19 // doc 1 deduped away
    ids should not contain 1
    // an unknown stage is an error response
    post("/pipeline/run",
      """{"entity":"prun","textCol":"txt","idCol":"did","stages":[{"op":"nope"}]}""")
      .get("ok").asBoolean() shouldBe false
    post("/entity/drop", """{"name":"prun"}""")
  }

  test("query explain over the wire shows the physical plan without running") {
    post("/entity/create", """{"name":"wexp"}""")
    val rows = (0 until 30).map(i => s"""{"vid":$i,"grp":${i % 3},"vec":[$i.0,1.0]}""")
      .mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"wexp","rows":$rows}""")
    val knn = post("/query/explain",
      """{"entity":"wexp","mode":"knn","idCol":"vid","vecCol":"vec","q":[0.0,0.0],"k":3}""")
    knn.get("ok").asBoolean() shouldBe true
    knn.get("plan").asText() should include("TakeOrderedAndProject")
    val bool = post("/query/explain",
      """{"entity":"wexp","mode":"boolean","predicates":[{"attribute":"grp","op":"=","values":[1]}]}""")
    bool.get("plan").asText() should include("PushedFilters")
    // with an index parameter the INDEX-SERVED plan is explained (the
    // candidates semi-join rerank), not the sequential scan
    post("/index/create",
      """{"entity":"wexp","name":"xp","type":"vaf","idCol":"vid","vecCol":"vec"}""")
      .get("index").asText() shouldBe "xp"
    val viaIdx = post("/query/explain",
      """{"entity":"wexp","mode":"knn","idCol":"vid","vecCol":"vec",
        |"q":[0.0,0.0],"k":3,"index":"xp"}""".stripMargin)
    viaIdx.get("plan").asText() should include("LeftSemi")
    post("/query/explain", """{"entity":"wexp","mode":"nope"}""")
      .get("ok").asBoolean() shouldBe false

    // analyze=true executes and reports rows + wall time with the plan
    val an = post("/query/explain",
      """{"entity":"wexp","mode":"knn","idCol":"vid","vecCol":"vec",
        |"q":[0.0,0.0],"k":3,"analyze":true}""".stripMargin)
    an.get("rows").asLong() shouldBe 3L
    an.get("wallMs").asLong() should be >= 0L
    an.get("plan").asText() should include("TakeOrderedAndProject")
    post("/entity/drop", """{"name":"wexp"}""")
  }

  test("snapshot retention over the wire") {
    post("/entity/create", """{"name":"vsnap"}""").get("ok").asBoolean() shouldBe true
    val rows = (0 until 10).map(i => s"""{"k":$i}""").mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"vsnap","rows":$rows}""")
      .get("inserted").asInt() shouldBe 10
    post("/entity/retain", """{"name":"vsnap","keep":2}""")
      .get("retain").asInt() shouldBe 2
    post("/entity/delete",
      """{"name":"vsnap","predicates":[{"attribute":"k","op":">","values":[4]}]}""")
      .get("deleted").asLong() shouldBe 5
    val vs = post("/entity/versions", """{"name":"vsnap"}""").get("versions")
    vs.size() shouldBe 2
    post("/entity/snapshot_count",
      s"""{"name":"vsnap","version":${vs.get(0).asInt()}}""")
      .get("count").asLong() shouldBe 10 // the pre-delete snapshot
    post("/entity/count", """{"name":"vsnap"}""").get("count").asLong() shouldBe 5

    // keyed diff between the retained snapshot and the live version:
    // five removals, nothing added or changed
    val diff = post("/entity/diff",
      s"""{"name":"vsnap","from":${vs.get(0).asInt()},"to":${vs.get(1).asInt()},"keyCol":"k"}""")
    val ops = diff.get("rows").elements().asScala.toSeq
      .map(r => (r.get("op").asText(), r.get("k").asLong()))
    ops.map(_._1).toSet shouldBe Set("removed")
    ops.map(_._2).sorted shouldBe Seq(5L, 6L, 7L, 8L, 9L)
    post("/entity/drop", """{"name":"vsnap"}""")
  }

  test("funnel and retention analytics over the wire") {
    post("/entity/create", """{"name":"ev"}""").get("ok").asBoolean() shouldBe true
    post("/entity/insert",
      """{"name":"ev","rows":[
        |{"event_id":1,"ts":100,"user_id":1,"event_type":"click"},
        |{"event_id":2,"ts":200,"user_id":1,"event_type":"view"},
        |{"event_id":3,"ts":300,"user_id":1,"event_type":"purchase"},
        |{"event_id":4,"ts":100,"user_id":2,"event_type":"click"},
        |{"event_id":5,"ts":90000000,"user_id":2,"event_type":"view"}]}""".stripMargin)
      .get("inserted").asInt() shouldBe 5
    val f = post("/events/funnel",
      """{"entity":"ev","steps":["click","view","purchase"]}""")
    f.get("ok").asBoolean() shouldBe true
    val byUser = f.get("rows").elements().asScala.toSeq
      .map(r => r.get("user_id").asLong() -> r.get("steps_completed").asInt()).toMap
    byUser(1L) shouldBe 3
    byUser(2L) shouldBe 2
    // session intervals over the wire: user 1's three events (100..300 s)
    // merge under a 400 s gap into one session of 3 events
    val sess = post("/events/sessions", """{"entity":"ev","gapMs":400000}""")
    sess.get("ok").asBoolean() shouldBe true
    val s1 = sess.get("rows").elements().asScala.toSeq
      .filter(_.get("user_id").asLong() == 1L)
    s1.size shouldBe 1
    s1.head.get("n_events").asLong() shouldBe 3L

    val ret = post("/events/retention", """{"entity":"ev"}""")
    ret.get("ok").asBoolean() shouldBe true
    // user 2's view is ~1041 days after the click: two cohort rows for
    // day 0 (both users) and one far offset (user 2)
    val rows = ret.get("rows").elements().asScala.toSeq
      .map(r => (r.get("day_offset").asInt(), r.get("n_users").asLong()))
    rows should contain((0, 2L))
    rows.map(_._1).max should be > 1000

    // journey prefixes: user 1 = click>view>purchase, user 2 = click>view
    val paths = post("/events/paths", """{"entity":"ev","steps":3,"k":5}""")
    paths.get("rows").elements().asScala.toSeq
      .map(r => r.get("path").asText() -> r.get("n_users").asLong()).toMap shouldBe
      Map("click>view>purchase" -> 1L, "click>view" -> 1L)
    post("/entity/drop", """{"name":"ev"}""")

    // typed props extraction over the wire
    post("/entity/create", """{"name":"evp"}""")
    post("/entity/insert",
      """{"name":"evp","rows":[
        |{"event_id":1,"event_type":"x","props":"{\"k\": 4}"},
        |{"event_id":2,"event_type":"x","props":"{\"k\": 8}"},
        |{"event_id":3,"event_type":"x","props":"nope"}]}""".stripMargin)
    val pr = post("/events/props", """{"entity":"evp","field":"k"}""")
    val x = pr.get("rows").get(0)
    x.get("n_parsed").asLong() shouldBe 2L
    x.get("n_missing").asLong() shouldBe 1L
    x.get("avg_v").asDouble() shouldBe 6.0
    post("/entity/drop", """{"name":"evp"}""")
  }

  test("events endpoints serve byte-identical rows to the battery queries (sf0.001)") {
    import org.apache.spark.sql.functions.{col, date_format}
    val d = "/root/testdata/sf0.001"
    val ev = graft.core.Tables.events(spark, d)
    // ship ts as microsecond strings; the operators cast back through
    // TIMESTAMP, so wire-entity and parquet paths see identical instants
    val json = ev.select(col("event_id"),
        date_format(col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("user_id"), col("event_type")).toJSON.collect()
    post("/entity/create", """{"name":"evbattery"}""").get("ok").asBoolean() shouldBe true
    json.grouped(250).foreach { chunk =>
      post("/entity/insert", s"""{"name":"evbattery","rows":[${chunk.mkString(",")}]}""")
        .get("inserted").asInt() shouldBe chunk.length
    }
    def wireRows(path: String, body: String): Seq[String] = {
      var r = post(path, body)
      r.get("ok").asBoolean() shouldBe true
      r.has("truncated") shouldBe false // the FULL result is compared
      val rows = scala.collection.mutable.ArrayBuffer.empty[String]
      rows ++= r.get("rows").elements().asScala.map(_.toString)
      while (r.has("pageToken")) { // walk every page
        r = post("/query/page", s"""{"pageToken":"${r.get("pageToken").asText()}"}""")
        rows ++= r.get("rows").elements().asScala.map(_.toString)
      }
      rows.toSeq
    }
    def batteryRows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, d).toJSON.collect().toSeq

    // endpoint rows are df.toJSON verbatim, so this is byte equality of
    // the serialized rows, not just value equality
    wireRows("/events/funnel",
        """{"entity":"evbattery","steps":["click","view","purchase"]}""")
      .sorted shouldBe batteryRows("event_funnel").sorted
    wireRows("/events/retention", """{"entity":"evbattery"}""")
      .sorted shouldBe batteryRows("event_retention").sorted

    // sessions endpoint: byte-equal to the oracle-backed operator plan
    // at the battery's 30-min gap, and its rollup must reproduce the
    // battery's event_sessions row exactly
    val sessWire = wireRows("/events/sessions",
      """{"entity":"evbattery","gapMs":1800000}""")
    val sessOp = graft.operators.EventAnalytics
      .sessions(ev, 1800L * 1000000L)
      .orderBy("user_id", "session_id").toJSON.collect().toSeq
    sessWire shouldBe sessOp
    val rollup = sessWire.map(com.fasterxml.jackson.databind.json.JsonMapper.builder().build().readTree)
      .groupBy(_.get("user_id").asLong())
      .map { case (u, rows) => u -> ((rows.size.toLong, rows.map(_.get("n_events").asLong()).sum)) }
    val battery = SparkEntry.queries("event_sessions")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    rollup shouldBe battery
    post("/entity/drop", """{"name":"evbattery"}""")
  }

  test("rolling average, series correlation, and keywords over the wire") {
    post("/entity/create", """{"name":"ra"}""")
    // type a doubles day over day, type b grows in step → corr 1.0
    val evs = Seq(
      (1, "2024-01-01 00:00:00", "a"), (2, "2024-01-01 01:00:00", "a"),
      (3, "2024-01-02 00:00:00", "a"), (4, "2024-01-02 01:00:00", "a"),
      (5, "2024-01-02 02:00:00", "a"), (6, "2024-01-02 03:00:00", "a"),
      (7, "2024-01-01 00:00:00", "b"),
      (8, "2024-01-02 00:00:00", "b"), (9, "2024-01-02 01:00:00", "b"),
      (10, "2024-01-02 02:00:00", "b"))
      .map { case (i, t, ty) => s"""{"event_id":$i,"ts":"$t","event_type":"$ty"}""" }
    post("/entity/insert", s"""{"name":"ra","rows":[${evs.mkString(",")}]}""")

    val roll = post("/events/rolling", """{"entity":"ra","days":7}""")
    val rrows = roll.get("rows").elements().asScala.toSeq
      .map(r => (r.get("event_type").asText(), r.get("day").asText(),
        r.get("cnt").asLong(), r.get("avg7").asDouble()))
    rrows should contain(("a", "2024-01-01", 2L, 2.0))
    rrows should contain(("a", "2024-01-02", 4L, 3.0)) // (2+4)/2
    rrows should contain(("b", "2024-01-02", 3L, 2.0)) // (1+3)/2

    val corr = post("/events/corr", """{"entity":"ra"}""")
    val crow = corr.get("rows").get(0)
    crow.get("type_a").asText() shouldBe "a"
    crow.get("type_b").asText() shouldBe "b"
    crow.get("corr_daily").asDouble() shouldBe 1.0
    crow.get("n_days").asLong() shouldBe 2L

    // cube: grand total row carries gid 3 and the full event count
    val cube = post("/events/cube", """{"entity":"ra","valueCol":"event_id"}""")
    val grand = cube.get("rows").elements().asScala.toSeq
      .find(_.get("gid").asInt() == 3).get
    grand.get("event_type").asText() shouldBe "(all)"
    grand.get("day").asText() shouldBe "(all)"
    grand.get("cnt").asLong() shouldBe 10L
    post("/entity/drop", """{"name":"ra"}""")

    post("/entity/create", """{"name":"kw"}""")
    post("/entity/insert",
      """{"name":"kw","rows":[
        |{"kid":1,"txt":"apple apple banana common common common"},
        |{"kid":2,"txt":"cherry common common"}]}""".stripMargin)
    val kws = post("/pipeline/keywords",
      """{"entity":"kw","textCol":"txt","idCol":"kid","k":2}""")
    val byDoc = kws.get("rows").elements().asScala.toSeq
      .filter(_.get("rank").asInt() == 1)
      .map(r => r.get("kid").asLong() -> r.get("term").asText()).toMap
    byDoc shouldBe Map(1L -> "apple", 2L -> "cherry")

    post("/entity/drop", """{"name":"kw"}""")

    // quality band: keep=1.0 passes everything; rank 0 per lang leader
    post("/entity/create", """{"name":"qb"}""")
    post("/entity/insert",
      """{"name":"qb","rows":[
        |{"bid":1,"txt":"the quick brown fox, and then some.","lng":"en"},
        |{"bid":2,"txt":"short","lng":"en"},
        |{"bid":3,"txt":"kurz und gut.","lng":"de"}]}""".stripMargin)
    val band = post("/pipeline/quality_band",
      """{"entity":"qb","textCol":"txt","idCol":"bid","langCol":"lng","keep":1.0}""")
    band.get("rows").size() shouldBe 3
    val en = band.get("rows").elements().asScala.toSeq
      .filter(_.get("lng").asText() == "en")
    en.head.get("pct").asDouble() shouldBe 0.0
    post("/entity/drop", """{"name":"qb"}""")
  }

  test("round-16 pipeline surface over the wire: urls, cdc, novelty, splits, cycles") {
    post("/entity/create", """{"name":"web"}""").get("ok").asBoolean() shouldBe true
    post("/entity/insert",
      """{"name":"web","rows":[
        |{"did":1,"url":"https://Example.com/x?id=1&utm_source=a","txt":"alpha beta gamma delta epsilon zeta eta theta"},
        |{"did":2,"url":"https://example.com/x/?id=1&gclid=b","txt":"alpha beta gamma delta epsilon zeta eta theta"},
        |{"did":3,"url":"https://spam.example.co.uk/y","txt":"totally different content with many novel words here"}]}""".stripMargin)
      .get("inserted").asInt() shouldBe 3

    val canon = post("/pipeline/urls",
      """{"entity":"web","urlCol":"url","idCol":"did","mode":"canonicalize"}""")
    canon.get("ok").asBoolean() shouldBe true
    canon.get("rows").get(0).get("url_canon").asText() shouldBe "https://example.com/x?id=1"
    canon.get("rows").get(2).get("domain").asText() shouldBe "example.co.uk"
    post("/pipeline/urls",
      """{"entity":"web","urlCol":"url","idCol":"did","mode":"dedup"}""")
      .get("rows").size() shouldBe 2 // tracking/slash variants collapse
    post("/pipeline/urls",
      """{"entity":"web","urlCol":"url","idCol":"did","mode":"domain_cap","cap":1}""")
      .get("rows").size() shouldBe 2 // one per registrable domain
    post("/pipeline/urls",
      """{"entity":"web","urlCol":"url","mode":"blocklist","blocked":["example.com"]}""")
      .get("rows").size() shouldBe 1 // only the co.uk doc survives

    // novelty: docs 1/2 are verbatim copies (0.0), doc 3 fully novel (1.0)
    val nov = post("/pipeline/novelty",
      """{"entity":"web","textCol":"txt","idCol":"did"}""")
    val novBy = nov.get("rows").elements().asScala.toSeq
      .map(r => r.get("id").asLong() -> r.get("novelty").asDouble()).toMap
    novBy(1L) shouldBe 0.0
    novBy(3L) shouldBe 1.0

    // interpolated bigram LM over the wire: copies share one (low) score
    val bg = post("/pipeline/logppl",
      """{"entity":"web","textCol":"txt","idCol":"did","model":"bigram"}""")
    bg.get("ok").asBoolean() shouldBe true
    val bgBy = bg.get("rows").elements().asScala.toSeq
      .map(r => r.get("id").asLong() -> r.get("log_ppl").asDouble()).toMap
    bgBy(1L) shouldBe bgBy(2L)
    bgBy(3L) should be > bgBy(1L)

    // deterministic split labels through the sampling endpoint
    val sp = post("/pipeline/sample",
      """{"entity":"web","keyCol":"did","mode":"split_assign","fractions":{"train":0.5,"test":0.5}}""")
    sp.get("rows").size() shouldBe 3
    sp.get("rows").elements().asScala.foreach(r =>
      Set("train", "test") should contain(r.get("split").asText()))

    // CDC repeated spans: the verbatim copies share every chunk hash
    val cdc = post("/pipeline/cdc",
      """{"entity":"web","textCol":"txt","idCol":"did","mode":"repeated"}""")
    cdc.get("ok").asBoolean() shouldBe true
    cdc.get("rows").size() should be >= 1
    cdc.get("rows").elements().asScala.foreach(
      _.get("n_docs").asLong() shouldBe 2L)

    // repeat-conversion cycles over the wire
    post("/entity/create", """{"name":"ev2"}""").get("ok").asBoolean() shouldBe true
    post("/entity/insert",
      """{"name":"ev2","rows":[
        |{"event_id":1,"ts":100,"user_id":1,"event_type":"click"},
        |{"event_id":2,"ts":200,"user_id":1,"event_type":"view"},
        |{"event_id":3,"ts":300,"user_id":1,"event_type":"click"},
        |{"event_id":4,"ts":400,"user_id":1,"event_type":"view"},
        |{"event_id":5,"ts":100,"user_id":2,"event_type":"view"}]}""".stripMargin)
      .get("inserted").asInt() shouldBe 5
    // Markov transition counts over the same stream: c->v, v->c, c->v
    val tr = post("/events/transitions", """{"entity":"ev2"}""")
    tr.get("ok").asBoolean() shouldBe true
    tr.get("rows").elements().asScala.toSeq
      .map(r => (r.get("from_type").asText(), r.get("to_type").asText()) ->
        r.get("n").asLong()).toMap shouldBe
      Map(("click", "view") -> 2L, ("view", "click") -> 1L)

    val fc = post("/events/funnel_cycles",
      """{"entity":"ev2","steps":["click","view"]}""")
    fc.get("ok").asBoolean() shouldBe true
    val cycBy = fc.get("rows").elements().asScala.toSeq
      .map(r => r.get("user_id").asLong() -> r.get("cycles").asLong()).toMap
    cycBy(1L) shouldBe 2L
    cycBy(2L) shouldBe 0L
    post("/entity/drop", """{"name":"web"}""")
    post("/entity/drop", """{"name":"ev2"}""")
  }

  test("as-of enrichment over the wire") {
    // quotes (right) enrich trades (left): most recent quote per symbol
    // at-or-before each trade; ts columns are epoch-second longs (the
    // operator casts through TIMESTAMP)
    post("/entity/create", """{"name":"trades"}""").get("ok").asBoolean() shouldBe true
    post("/entity/create", """{"name":"quotes"}""").get("ok").asBoolean() shouldBe true
    post("/entity/insert",
      """{"name":"trades","rows":[
        |{"sym":"A","tid":1,"ts":1000},
        |{"sym":"A","tid":2,"ts":2000},
        |{"sym":"B","tid":3,"ts":1500}]}""".stripMargin)
      .get("inserted").asInt() shouldBe 3
    post("/entity/insert",
      """{"name":"quotes","rows":[
        |{"sym":"A","qid":10,"ts":900,"px":1.5},
        |{"sym":"A","qid":11,"ts":1900,"px":2.5},
        |{"sym":"B","qid":20,"ts":1600,"px":9.0}]}""".stripMargin)
      .get("inserted").asInt() shouldBe 3
    val r = post("/pipeline/asof",
      """{"left":"trades","right":"quotes","keys":["sym"],"tsCol":"ts",
        |"tieCol":"qid","payload":["qid","px"]}""".stripMargin)
    r.get("ok").asBoolean() shouldBe true
    val byTid = r.get("rows").elements().asScala.toSeq
      .map(row => row.get("tid").asInt() -> row).toMap
    byTid(1).get("qid").asInt() shouldBe 10 // 900 quote
    byTid(2).get("qid").asInt() shouldBe 11 // 1900 quote
    byTid(2).get("px").asDouble() shouldBe 2.5
    // null payloads are omitted from the JSON row entirely
    Option(byTid(3).get("qid")).forall(_.isNull) shouldBe true // B's quote is later
    // both matches sit 100 s before their trades; a 50 s horizon trims them
    val tight = post("/pipeline/asof",
      """{"left":"trades","right":"quotes","keys":["sym"],"tsCol":"ts",
        |"tieCol":"qid","payload":["qid","px"],"toleranceMs":50000}""".stripMargin)
    val t2 = tight.get("rows").elements().asScala.toSeq
      .map(row => row.get("tid").asInt() -> row).toMap
    Option(t2(1).get("qid")).forall(_.isNull) shouldBe true
    Option(t2(2).get("qid")).forall(_.isNull) shouldBe true
    post("/entity/drop", """{"name":"trades"}""")
    post("/entity/drop", """{"name":"quotes"}""")
  }

  test("GET / serves the browser console page") {
    for (path <- Seq("/", "/ui")) {
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${server.port}$path")).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      resp.statusCode() shouldBe 200
      resp.headers().firstValue("Content-Type").orElse("") should include("text/html")
      // the page drives the SAME endpoints clients POST to
      resp.body() should include("graft console")
      resp.body() should include("/query/knn")
      resp.body() should include("/query/progressive")
    }
  }

  test("metrics endpoint reports catalog and JVM state") {
    val m = post("/metrics", "{}")
    m.get("ok").asBoolean() shouldBe true
    m.get("entities").asInt() should be >= 0
    m.get("heapUsedMb").asLong() should be > 0L
    m.get("heapMaxMb").asLong() should be >= m.get("heapUsedMb").asLong()
    m.get("defaultParallelism").asInt() should be >= 1
  }

  test("bad requests return ok=false with an error") {
    val r = post("/entity/count", """{"name":"nope"}""")
    r.get("ok").asBoolean() shouldBe false
    r.get("error").asText() should include("nope")
    post("/no/such", "{}").get("ok").asBoolean() shouldBe false
    // the missing-required-field contract is SERVER-WIDE (reqField),
    // not a geo-endpoint special: a boolean query without predicates,
    // a predicate entry without its op, and a knn without q all name
    // the field instead of NPEing
    def missing(path: String, body: String, field: String): Unit = {
      val m = post(path, body)
      m.get("ok").asBoolean() shouldBe false
      m.get("error").asText() should include(field)
    }
    missing("/query/boolean", """{"entity":"wire"}""", "predicates")
    missing("/query/boolean",
      """{"entity":"wire","predicates":[{"attribute":"grp","values":[1]}]}""",
      "op")
    missing("/query/knn", """{"entity":"wire","vecCol":"vec","k":3}""", "q")
    missing("/entity/count", "{}", "name")
  }

  test("admin surface over the wire: details, maintenance, partition, storage") {
    post("/entity/create", """{"name":"adm"}""")
    val rows = (0 until 60).map(i =>
      s"""{"vid":$i,"grp":${i % 3},"vec":[${i % 9}.0,${(i * 2) % 7}.0]}""")
      .mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"adm","rows":$rows}""")
    post("/index/create",
      """{"entity":"adm","name":"vaf_vec","type":"vaf","idCol":"vid","vecCol":"vec"}""")

    // entity-level details: count, version, schema, indexes
    val det = post("/entity/details", """{"name":"adm"}""")
    withClue(det.toString) { det.get("ok").asBoolean() shouldBe true }
    det.get("count").asLong() shouldBe 60
    det.get("version").asInt() should be >= 1
    det.get("layout").asText() shouldBe "none"
    det.get("schema").elements().asScala.map(_.get("name").asText()).toSet shouldBe
      Set("vid", "grp", "vec")
    det.get("indexes").elements().asScala.map(_.asText()).toSeq shouldBe Seq("vaf_vec")

    // per-attribute details: type, serving handler, indexes over it
    val attr = post("/entity/details", """{"name":"adm","attribute":"vec"}""")
    attr.get("handler").asText() shouldBe "parquet"
    attr.get("indexes").get(0).asText() shouldBe "vaf_vec"
    post("/entity/details", """{"name":"adm","attribute":"nope"}""")
      .get("ok").asBoolean() shouldBe false

    // index details: type, staleness, recorded build recipe
    val idet = post("/index/details", """{"entity":"adm","name":"vaf_vec"}""")
    idet.get("indextype").asText() shouldBe "vaf"
    idet.get("stale").asBoolean() shouldBe false
    idet.get("buildInfo").get("indextype").asText() shouldBe "vaf"

    post("/storagehandlers/list", "{}").get("handlers").elements().asScala
      .map(_.asText()).toSet should contain allOf ("parquet", "orc", "keyvalue")

    // maintenance: vacuum compacts, column partition records a layout
    post("/entity/vacuum", """{"name":"adm","partitions":2}""")
      .get("ok").asBoolean() shouldBe true
    post("/entity/partition", """{"name":"adm","mode":"column","keyCol":"grp"}""")
      .get("ok").asBoolean() shouldBe true
    post("/entity/details", """{"name":"adm"}""")
      .get("layout").asText() shouldBe "bycolumn(grp)"
    post("/entity/count", """{"name":"adm"}""").get("count").asLong() shouldBe 60

    // move an attribute to the KV store; reads reassemble transparently
    post("/entity/storage",
      """{"name":"adm","attributes":["grp"],"handler":"keyvalue"}""")
      .get("moved").asInt() shouldBe 1
    post("/entity/details", """{"name":"adm","attribute":"grp"}""")
      .get("handler").asText() shouldBe "keyvalue"
    post("/query/boolean",
      """{"entity":"adm","predicates":[{"attribute":"grp","op":"=","values":[1]}]}""")
      .get("rows").size() shouldBe 20

    // index relation repartition keeps the scan serving
    post("/index/partition",
      """{"entity":"adm","name":"vaf_vec","mode":"random","n":3}""")
      .get("ok").asBoolean() shouldBe true
    val knn = post("/query/knn",
      """{"entity":"adm","idCol":"vid","vecCol":"vec","q":[0.0,0.0],"k":3,"index":"vaf_vec"}""")
    knn.get("rows").size() shouldBe 3
  }

  test("indexall, demo data, and import/export round trip over the wire") {
    post("/entity/create", """{"name":"demofill"}""")
    // distributed synthetic fill (reference insertdemo / GenerateRandomData)
    post("/entity/insertdemo", """{"name":"demofill","ntuples":100,"ndims":8}""")
      .get("inserted").asLong() shouldBe 100
    post("/entity/count", """{"name":"demofill"}""").get("count").asLong() shouldBe 100

    // the reference's 8 index types in one call
    val all = post("/entity/indexall",
      """{"entity":"demofill","vecCol":"feature","idCol":"id","extended":false}""")
    all.get("indexes").size() shouldBe 8
    post("/index/list", """{"entity":"demofill"}""")
      .get("indexes").size() shouldBe 8
    val k = post("/query/knn",
      """{"entity":"demofill","idCol":"id","vecCol":"feature","q":[0.5,0.5,0.5,0.5,0.5,0.5,0.5,0.5],"k":4,"index":"ecp_feature"}""")
    k.get("rows").size() shouldBe 4

    // export logical rows, import them as a new entity
    val dir = SharedSpark.tempDir("graft-exp").toString
    post("/export", s"""{"name":"demofill","format":"json","path":"$dir/out"}""")
      .get("ok").asBoolean() shouldBe true
    post("/import", s"""{"name":"demoimp","format":"json","path":"$dir/out"}""")
      .get("imported").asText() shouldBe "demoimp"
    post("/entity/count", """{"name":"demoimp"}""").get("count").asLong() shouldBe 100
  }

  test("profiling sketches over the wire: KMV distinct and heavy hitters") {
    post("/entity/create", """{"name":"sk"}""")
    val rows = (0 until 90).map(i =>
      s"""{"rid":$i,"grp":"g${i % 3}","tok":"${if (i % 3 == 0) "hot" else s"t$i"}","v":$i.0}""")
      .mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"sk","rows":$rows}""")

    // 90 distinct rids < k=256 → exact
    val d = post("/pipeline/sketch",
      """{"entity":"sk","mode":"distinct","keyCol":"rid"}""")
    d.get("rows").get(0).get("distinct_est").asDouble() shouldBe 90.0
    // per-group: 30 distinct each
    val dg = post("/pipeline/sketch",
      """{"entity":"sk","mode":"distinct","keyCol":"rid","groupCol":"grp"}""")
    dg.get("rows").elements().asScala
      .map(_.get("distinct_est").asDouble()).toSeq shouldBe Seq(30.0, 30.0, 30.0)

    // hot token (30×) leads; capacity ≥ distinct → exact, err 0
    val hh = post("/pipeline/sketch",
      """{"entity":"sk","mode":"heavy_hitters","keyCol":"tok","m":128}""")
    val first = hh.get("rows").get(0)
    first.get("key").asText() shouldBe "hot"
    first.get("cnt").asLong() shouldBe 30L
    first.get("err").asLong() shouldBe 0L

    // bottom-k quantiles: 90 rows < k=256 → the sample is the whole
    // column and the type-1 quantiles are exact
    val qn = post("/pipeline/sketch",
      """{"entity":"sk","mode":"quantiles","keyCol":"rid","valueCol":"v"}""")
    val qrow = qn.get("rows").get(0)
    qrow.get("n_sample").asInt() shouldBe 90
    qrow.get("p50").asDouble() shouldBe 44.0
    qrow.get("p90").asDouble() shouldBe 80.0
    qrow.get("p99").asDouble() shouldBe 89.0
    post("/entity/drop", """{"name":"sk"}""")
  }

  test("compound set-algebra search over the wire") {
    post("/entity/create", """{"name":"cmp"}""")
    val rows = (0 until 40).map(i =>
      s"""{"vid":$i,"grp":${i % 2},"vec":[$i.0,0.0]}""").mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"cmp","rows":$rows}""")

    // knn(k=6 from origin) ∩ boolean(grp=0) = even ids 0,2,4 (distance 0)
    val tree =
      """{"op":"intersect",
          "left":{"op":"knn","entity":"cmp","vecCol":"vec","q":[0.0,0.0],"k":6},
          "right":{"op":"boolean","entity":"cmp",
                   "predicates":[{"attribute":"grp","op":"=","values":[0]}]}}"""
    val r = post("/search/compound", s"""{"idCol":"vid","tree":$tree}""")
    r.get("rows").elements().asScala.map(_.get("vid").asInt()).toSeq shouldBe
      Seq(0, 2, 4)
    r.get("rows").get(0).get("distance").asDouble() shouldBe 0.0

    // fuzzy union of two knns merges per-id distance by min
    val fuzzy =
      """{"op":"fuzzy_union",
          "left":{"op":"knn","entity":"cmp","vecCol":"vec","q":[0.0,0.0],"k":3},
          "right":{"op":"knn","entity":"cmp","vecCol":"vec","q":[2.0,0.0],"k":3}}"""
    val f = post("/search/compound", s"""{"idCol":"vid","tree":$fuzzy}""")
    val byId = f.get("rows").elements().asScala
      .map(n => n.get("vid").asInt() -> n.get("distance").asDouble()).toMap
    byId.keySet shouldBe Set(0, 1, 2, 3)
    byId(1) shouldBe 1.0 // in both legs: min(1, 1)
    byId(2) shouldBe 0.0 // in both legs: min(2, 0)
    byId(0) shouldBe 0.0 // left-only: min(0, fuzzyDefault 0)
  }

  test("tile partitioning over the wire records the layout") {
    post("/entity/create", """{"name":"tiled"}""")
    val rows = (0 until 60).map(i =>
      s"""{"pid":$i,"x":${(i % 9) * 1.0},"y":${(i % 7) * 1.0}}""")
      .mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"tiled","rows":$rows}""")
    post("/entity/partition",
      """{"name":"tiled","mode":"tile","cols":["x","y"],"cell":3.0}""")
      .get("ok").asBoolean() shouldBe true
    post("/entity/details", """{"name":"tiled"}""")
      .get("layout").asText() shouldBe "tile(x,y)"
    post("/entity/count", """{"name":"tiled"}""").get("count").asLong() shouldBe 60
  }

  test("fuzzy matching over the wire: self pairs and dictionary lookup") {
    post("/entity/create", """{"name":"fz"}""")
    post("/entity/insert",
      """{"name":"fz","rows":[
        |{"fid":1,"w":"widget"},{"fid":2,"w":"widgat"},{"fid":3,"w":"gizmo"}]}""".stripMargin)
    val pairs = post("/pipeline/fuzzy",
      """{"entity":"fz","mode":"pairs","strCol":"w","idCol":"fid","maxDist":1}""")
    pairs.get("rows").elements().asScala
      .map(n => (n.get("id_a").asLong(), n.get("id_b").asLong())).toSeq shouldBe
      Seq((1L, 2L))
    post("/entity/create", """{"name":"fzdict"}""")
    post("/entity/insert",
      """{"name":"fzdict","rows":[{"did":10,"term":"widget"},{"did":11,"term":"gizmo"}]}""")
    val lk = post("/pipeline/fuzzy",
      """{"entity":"fz","mode":"lookup","strCol":"w","idCol":"fid",
        |"dict":"fzdict","dictStrCol":"term","dictIdCol":"did","maxDist":1}""".stripMargin)
    lk.get("rows").elements().asScala
      .map(n => (n.get("fid").asLong(), n.get("did").asLong())).toSet shouldBe
      Set((1L, 10L), (2L, 10L), (3L, 11L))
  }

  test("geometry over the wire: contains, fence join, route distance") {
    post("/entity/create", """{"name":"geo"}""")
    val rows = Seq((1, 2.0, 2.0), (2, 7.0, 7.0), (3, 12.0, 12.0), (4, 30.0, 30.0))
      .map { case (i, x, y) => s"""{"pid":$i,"x":$x,"y":$y}""" }
      .mkString("[", ",", "]")
    post("/entity/insert", s"""{"name":"geo","rows":$rows}""")

    val in = post("/pipeline/geo",
      """{"entity":"geo","mode":"contains","xCol":"x","yCol":"y","idCol":"pid",
        |"wkt":"POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"}""".stripMargin)
    in.get("rows").elements().asScala.map(_.get("pid").asInt()).toSeq shouldBe Seq(1, 2)

    val join = post("/pipeline/geo",
      """{"entity":"geo","mode":"contains_join","xCol":"x","yCol":"y","idCol":"pid",
        |"cell":4.0,"fences":[
        |{"id":10,"wkt":"POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"},
        |{"id":20,"wkt":"POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"}]}""".stripMargin)
    join.get("rows").elements().asScala
      .map(n => (n.get("fence_id").asInt(), n.get("pid").asInt())).toSeq shouldBe
      Seq((10, 1), (10, 2), (20, 2), (20, 3))

    val near = post("/pipeline/geo",
      """{"entity":"geo","mode":"distance","xCol":"x","yCol":"y","idCol":"pid",
        |"wkt":"LINESTRING (0 0, 20 20)","dwithin":1.0}""".stripMargin)
    near.get("rows").elements().asScala.map(_.get("pid").asInt()).toSeq shouldBe
      Seq(1, 2, 3) // all on the diagonal; pid 4 is past the endpoint

    // covers: pid 1 sits ON the square's corner-adjacent interior; a
    // boundary point (10, 10) would be excluded by raw contains but
    // covers includes edges — exercise with the on-edge fixture row
    post("/entity/insert", """{"name":"geo","rows":[{"pid":5,"x":10.0,"y":5.0}]}""")
    val cov = post("/pipeline/geo",
      """{"entity":"geo","mode":"covers","xCol":"x","yCol":"y","idCol":"pid",
        |"wkt":"POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"}""".stripMargin)
    cov.get("rows").elements().asScala.map(_.get("pid").asInt()).toSeq shouldBe
      Seq(1, 2, 5) // 5 is on the right edge — covered, not "contained"

    // geodesic radius: x=lng, y=lat; the nearest other point (7,7) is
    // ~780 km from (2,2), so a 250 km radius keeps only pid 1 (0 m)
    val geo = post("/pipeline/geo",
      """{"entity":"geo","mode":"dwithin_geo","xCol":"x","yCol":"y","idCol":"pid",
        |"wkt":"POINT (2 2)","meters":250000.0}""".stripMargin)
    geo.get("rows").elements().asScala.map(_.get("pid").asInt()).toSeq shouldBe
      Seq(1)

    // polygon entity against a fence list through the grid join —
    // inclusive mode so the edge-sharing square counts
    post("/entity/create", """{"name":"geopoly"}""")
    post("/entity/insert",
      """{"name":"geopoly","rows":[
        |{"gid":1,"wkt":"POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"},
        |{"gid":2,"wkt":"POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))"}]}""".stripMargin)
    val ij = post("/pipeline/geo",
      """{"entity":"geopoly","mode":"intersects_join","xCol":"x","yCol":"y",
        |"idCol":"gid","wktCol":"wkt","cell":2.0,"inclusive":true,"fences":[
        |{"id":100,"wkt":"POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"},
        |{"id":200,"wkt":"POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))"}]}""".stripMargin)
    ij.get("rows").elements().asScala
      .map(n => (n.get("fence_id").asInt(), n.get("gid").asInt())).toSeq shouldBe
      Seq((100, 1), (200, 1)) // fence 100 overlaps gid 1; 200 shares its edge

    // geodesic nearest: each row's closest depot within 1500 km
    val nng = post("/pipeline/geo",
      """{"entity":"geo","mode":"nearest_geo","xCol":"x","yCol":"y","idCol":"pid",
        |"meters":1500000.0,"k":1,"pois":[
        |{"id":100,"lat":2.0,"lng":2.0},{"id":200,"lat":12.0,"lng":12.0}]}""".stripMargin)
    nng.get("rows").elements().asScala
      .map(n => (n.get("pid").asInt(), n.get("poi_id").asInt())).toSeq shouldBe
      Seq((1, 100), (2, 200), (3, 200), (5, 200))
    // pid 2 (7,7) is marginally closer to depot 200 (781 vs 785 km —
    // higher latitude shrinks the longitude arc); pid 4 (30,30) is
    // ~2730 km from the nearest depot — the bounded-radius drop
  }

  test("geo wire surface: a missing per-mode field is a 400 naming the field, not an NPE") {
    // reuses the `geo`/`geopoly` entities of the previous test; every
    // mode's required field, omitted, must come back ok=false with the
    // field name in the error — the reqField contract
    def expectMissing(body: String, field: String): Unit = {
      val r = post("/pipeline/geo", body)
      r.get("ok").asBoolean() shouldBe false
      r.get("error").asText() should include(field)
    }
    expectMissing( // contains without wkt
      """{"entity":"geo","mode":"contains","xCol":"x","yCol":"y","idCol":"pid"}""",
      "wkt")
    expectMissing( // contains_join without fences
      """{"entity":"geo","mode":"contains_join","xCol":"x","yCol":"y","idCol":"pid"}""",
      "fences")
    expectMissing( // fence entry without its wkt
      """{"entity":"geo","mode":"contains_join","xCol":"x","yCol":"y","idCol":"pid",
        |"fences":[{"id":1}]}""".stripMargin, "wkt")
    expectMissing( // dwithin_geo without meters
      """{"entity":"geo","mode":"dwithin_geo","xCol":"x","yCol":"y","idCol":"pid",
        |"wkt":"POINT (2 2)"}""".stripMargin, "meters")
    expectMissing( // intersects_join without wktCol
      """{"entity":"geopoly","mode":"intersects_join","xCol":"x","yCol":"y",
        |"idCol":"gid","fences":[]}""".stripMargin, "wktCol")
    expectMissing( // nearest_geo without pois
      """{"entity":"geo","mode":"nearest_geo","xCol":"x","yCol":"y","idCol":"pid",
        |"meters":1000.0}""".stripMargin, "pois")
    expectMissing( // mode itself missing
      """{"entity":"geo","xCol":"x","yCol":"y","idCol":"pid"}""", "mode")
    // spheroid flag: the same dwithin query measures on the WGS84
    // rectifying sphere — distances scale by exactly Rr/R
    def dist(extra: String): Double = post("/pipeline/geo",
      s"""{"entity":"geo","mode":"dwithin_geo","xCol":"x","yCol":"y",
         |"idCol":"pid","wkt":"POINT (2 3)","meters":1.0e9$extra}""".stripMargin)
      .get("rows").elements().asScala
      .map(n => (n.get("pid").asInt(), n.get("dist_m").asDouble())).toMap
      .apply(3)
    val ratio = dist(""","spheroid":true""") / dist("")
    val rr = graft.operators.Geo.RectifyingRadiusMeters /
      graft.operators.Geo.SphereRadiusMeters
    math.abs(ratio - rr) should be < 1e-7
    expectMissing( // shared coordinate columns missing
      """{"entity":"geo","mode":"contains","yCol":"y","idCol":"pid",
        |"wkt":"POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"}""".stripMargin, "xCol")
  }

  override def afterAll(): Unit = {
    server.stop()
    super.afterAll()
  }
}
