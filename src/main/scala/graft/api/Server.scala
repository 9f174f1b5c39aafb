package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit, round}
import org.apache.spark.sql.types.StructType

import graft.core.{Entity, Partitioning}
import graft.operators.{BooleanPredicates, SetAlgebra}

/** Thin JSON-over-HTTP front door wrapping the programmatic API — the
  * seam the reference fills with gRPC (`communication/rpc/
  * DataDefintion.scala`, `DataQuery.scala`; SURVEY §7.1 scoped the
  * transport out, this closes the gap without adding dependencies: the
  * JDK's `com.sun.net.httpserver` + the Jackson that ships with Spark).
  *
  * Shared request concepts — kNN/Boolean routing ([[QueryOps.route]]),
  * set algebra, partitioner names, index build-and-save ([[IndexOps]])
  * and per-entity mutation locking ([[Entity]]) — live behind both this
  * door and the gRPC one, which accept the same spellings. The one policy
  * that differs: gRPC refuses a stale named index, this door serves it
  * and flags it.
  *
  * One POST endpoint per RPC, JSON request/response. Query results are
  * rendered through Spark's own JSON encoder (`df.toJSON`) and capped at
  * `maxResults` rows — the reference's paging cap
  * (`MessageParser.scala:502-503`) that keeps a careless `SELECT *` from
  * shipping a 100 TB table through the front door.
  *
  * | endpoint          | body                                             |
  * |-------------------|--------------------------------------------------|
  * | / or /ui (GET)    | static browser console (resources/graft/ui.html) |
  * | /entity/create    | {name}                                           |
  * | /entity/insert    | {name, rows: [{col: value, …}, …]}               |
  * | /entity/list      | {}                                               |
  * | /entity/count     | {name}                                           |
  * | /entity/delete    | {name, predicates: [{attribute, op, values}]}    |
  * | /entity/preview   | {name, k?}                                       |
  * | /entity/drop      | {name}                                           |
  * | /index/create     | {entity, name, type, idCol, vecCol, options?}    |
  * | /index/refresh    | {entity, name} — rebuild stale w/ saved recipe   |
  * | /index/list       | {entity}                                         |
  * | /query/boolean    | {entity, predicates: […]}                        |
  * | /query/text       | {entity, textCol, mode: all|any|phrase|bm25      |
  * |                   |  |bm25_indexed, terms: [..], idCol? k? (bm25*)}  |
  * | /query/knn        | {entity, idCol, vecCol, q: [x,…], dist?, k?,     |
  * |                   |  index? (stored index name; exact rerank; a      |
  * |                   |  stale index serves, flagged `stale: true`; one  |
  * |                   |  built over another attribute is refused),       |
  * |                   |  hints? (planner hint names, walked in order)}   |
  * | /query/page       | {pageToken}                                      |
  * | /entity/insert/stream | newline-delimited JSON rows (body streamed)  |
  * | /query/progressive    | {entity, idCol, vecCol, q, dist?, k?,        |
  * |                       |  timedDeadlineMs?, hints?} → chunked lines   |
  * | /pipeline/verdicts    | {entity, textCol, idCol, minQuality?,        |
  * |                       |  maxDupTokenFrac?, maxTopTokenFrac?,         |
  * |                       |  maxDupBigramFrac?, maxPii?}                 |
  * | /pipeline/sample      | {entity, keyCol, mode: bernoulli|stratified  |
  * |                       |  |exact|weighted|token_budget|epoch_mix      |
  * |                       |  |temperature_mix|split_assign(fractions),   |
  * |                       |  fraction?/n?/weightCol?, strataCol?,        |
  * |                       |  domainCol?/tokenCol?/budgets?/              |
  * |                       |  defaultBudget?/priorityCol?,                |
  * |                       |  epochs?/defaultEpochs?}                     |
  * | /pipeline/strip_chunks | {entity, textCol, idCol, window?, stride?,  |
  * |                       |  minDocs?}                                   |
  * | /pipeline/strip_lines | {entity, textCol, idCol, minDocs?}           |
  * | /pipeline/asof        | {left, right, keys:[..], tsCol, tieCol,      |
  * |                       |  payload:[..], direction?, strict?,          |
  * |                       |  toleranceMs?}                               |
  * | /pipeline/run         | {entity, textCol, idCol,                     |
  * |                       |  stages:[{op, ...params}, ..]}               |
  * | /events/funnel        | {entity, steps:[..], tsCol?, userCol?,       |
  * |                       |  typeCol?}                                   |
  * | /events/funnel_cycles | {entity, steps:[..] (≤8), tsCol?, userCol?,  |
  * |                       |  typeCol?, maxCycles?}                       |
  * | /events/transitions   | {entity, tsCol?, userCol?, typeCol?, idCol?} |
  * | /pipeline/novelty     | {entity, textCol, idCol, n?}                 |
  * | /pipeline/urls        | {entity, urlCol, idCol?, mode: canonicalize  |
  * |                       |  |dedup|domain_cap(cap)|blocklist(blocked)}  |
  * | /pipeline/cdc         | {entity, textCol, idCol, mode: chunks        |
  * |                       |  |repeated, window?, divisor?, minDocs?}     |
  * | /events/retention     | {entity, tsCol?, userCol?}                   |
  * | /events/paths         | {entity, steps?, k?}                         |
  * | /events/props         | {entity, field}                              |
  * | /pipeline/sketch      | {entity, mode: distinct|heavy_hitters|       |
  * |                       |  quantiles, keyCol, valueCol?, groupCol?,    |
  * |                       |  k?/m?}                                      |
  * | /events/anomalies     | {entity, threshold?}                         |
  * | /events/rolling       | {entity, days?}                              |
  * | /events/corr          | {entity}                                     |
  * | /events/cube          | {entity, valueCol?}                          |
  * | /pipeline/keywords    | {entity, textCol, idCol, k?}                 |
  * | /pipeline/quality_band | {entity, textCol, idCol, langCol, keep?}    |
  * | /events/sessions      | {entity, gapMs, tsCol?, userCol?}            |
  * | /query/explain        | {entity, mode: knn|boolean, index?, ...}     |
  * | /entity/versions      | {name}                                       |
  * | /entity/retain        | {name, keep}                                 |
  * | /entity/snapshot_count | {name, version}                             |
  * | /entity/diff          | {name, from, to, keyCol}                     |
  * | /metrics              | {} → catalog/jobs/heap snapshot              |
  * | /pipeline/dedup       | {entity, textCol, idCol, minQuality?,        |
  * |                       |  threshold?}                                 |
  * | /entity/details       | {name, attribute?} — props / attr detail     |
  * | /index/details        | {entity, name} — type, stale, build recipe   |
  * | /entity/vacuum        | {name, partitions?}                          |
  * | /entity/sparsify      | {name, vecCol}                               |
  * | /entity/partition     | {name, mode: hash|random|ecp|column (alias   |
  * |                       |  bycolumn)|zorder|tile, n?,                  |
  * |                       |  cols?/vecCol?/keyCol?, cell?}               |
  * | /index/partition      | {entity, name, mode: hash|random, n?, cols?} |
  * | /entity/storage       | {name, attributes: [..], handler}            |
  * | /storagehandlers/list | {}                                           |
  * | /entity/indexall      | {entity, vecCol, idCol?, extended?}          |
  * | /entity/insertdemo    | {name, ntuples, ndims, distribution?, seed?} |
  * | /import               | {name, format, path}                         |
  * | /export               | {name, format, path}                         |
  * | /search/compound      | {idCol, tree: {op: knn|boolean|union|        |
  * |                       |  intersect (alias join)|except|fuzzy_union   |
  * |                       |  (alias fuzzyunion)|fuzzy_intersect (alias   |
  * |                       |  fuzzyintersect), …, left?, right?}}         |
  * | /pipeline/pack        | {entity, idCol, tokenCol, budget?, shards?,  |
  * |                       |  rows?: true → (doc, chunk) boundary map}    |
  * | /pipeline/components  | {entity, textCol, idCol, threshold?}         |
  * | /pipeline/contamination | {entity, bench, textCol, idCol, threshold?}|
  *
  * Result paging mirrors the reference's stepped result shipping
  * (`MessageParser.scala:502-503`: MAX_RESULTS 50000, STEP_SIZE 500):
  * query responses carry at most [[Server.PageSize]] rows plus a
  * `pageToken`; `/query/page` walks the remainder. Tokens index a
  * bounded LRU of collected result sets — the collect happened anyway
  * (≤ maxResults rows), paging only bounds the per-response payload.
  *
  * `/entity/insert/stream` reads the body INCREMENTALLY (one JSON row
  * per line) and commits a batch every [[Server.InsertBatch]] rows with
  * a per-batch ack — the reference's acked `streamInsert`
  * (`DataDefintion.scala:170-221`); driver memory stays O(batch) no
  * matter the body size.
  *
  * `/query/progressive` streams one JSON line per plan observation as
  * plans finish (chunked transfer), then a terminal `done` line — the
  * reference's `doProgressiveQuery`/`doParallelQuery` observation
  * streaming (`DataQuery.scala:264-358`) over
  * [[graft.plans.Progressive.parallel]].
  */
class Server private(spark: SparkSession, base: String, http: HttpServer,
                     maxResults: Int) {

  def port: Int = http.getAddress.getPort

  /** Handler threads, named `graft-http-<port>-<n>`. Daemon threads, so a
    * JVM whose main returns can exit; [[stop]] shuts them down. Handlers
    * run concurrently: `Entity` serializes mutations per entity itself. */
  private val threads = new java.util.concurrent.atomic.AtomicInteger()
  private[api] val pool = java.util.concurrent.Executors.newFixedThreadPool(4, { (r: Runnable) =>
    val t = new Thread(r, s"graft-http-$port-${threads.incrementAndGet()}")
    t.setDaemon(true)
    t
  })

  /** Stop listening, then end the handler threads (running handlers get
    * five seconds to finish). */
  def stop(): Unit = {
    http.stop(0)
    pool.shutdown()
    pool.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS)
  }

  private val mapper = new ObjectMapper()

  private def handle(ex: HttpExchange): Unit = ex.getRequestURI.getPath match {
    // the browser console (reference web UI role): one static page over
    // the same JSON endpoints external clients POST to
    case "/" | "/ui" => serveUi(ex)
    // the two streaming endpoints manage the exchange themselves; the
    // insert stream returns no rows, so it holds no lease
    case "/entity/insert/stream" => handleStreamInsert(ex)
    case "/query/progressive" => Entity.leasing(handleProgressive(ex))
    case path =>
      // the snapshots the request reads stay leased until its response is
      // encoded
      val (status, bytes) = Entity.leasing {
        val reply =
          try {
            val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
            val req = if (body.isEmpty) mapper.createObjectNode() else mapper.readTree(body)
            val out = route(path, req)
            out.put("ok", true)
            (200, out)
          } catch {
            case NonFatal(e) =>
              val err = mapper.createObjectNode()
              err.put("ok", false)
              err.put("error", String.valueOf(e.getMessage))
              (400, err)
          }
        (reply._1, mapper.writeValueAsBytes(reply._2))
      }
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
  }

  private def serveUi(ex: HttpExchange): Unit = {
    val in = getClass.getResourceAsStream("/graft/ui.html")
    if (in == null) { ex.sendResponseHeaders(404, -1); ex.close(); return }
    val bytes = try in.readAllBytes() finally in.close()
    ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Required request field: a missing/null field is a CLIENT error —
    * IllegalArgumentException (→ 400 with the field name), never an
    * NPE from a blind `req.get(...).asText()`. */
  private def reqField(req: JsonNode, field: String): JsonNode = {
    val n = req.get(field)
    if (n == null || n.isNull)
      throw new IllegalArgumentException(s"missing required field: $field")
    n
  }

  private def entity(req: JsonNode, field: String = "name"): Entity =
    Entity.open(spark, base, reqField(req, field).asText())

  private def predicatesOf(req: JsonNode): Seq[BooleanPredicates.Predicate] =
    reqField(req, "predicates").elements().asScala.map { p =>
      BooleanPredicates.Predicate(reqField(p, "attribute").asText(),
        reqField(p, "op").asText(),
        reqField(p, "values").elements().asScala.map(jsonScalar).toSeq)
    }.toSeq

  /** kNN query fields: `vecCol`, `q`, `dist?` (euclidean), `k?` (10). */
  private def nnqOf(req: JsonNode): NnQuery =
    NnQuery(reqField(req, "vecCol").asText(),
      reqField(req, "q").elements().asScala.map(_.asDouble()).toSeq,
      if (req.has("dist")) reqField(req, "dist").asText() else "euclidean",
      if (req.has("k")) reqField(req, "k").asInt() else 10)

  private def hintsOf(req: JsonNode): Seq[String] =
    if (req.has("hints")) reqField(req, "hints").elements().asScala.map(_.asText()).toSeq
    else Nil

  /** A kNN request (`index?` names a stored index, `hints?` are walked in
    * order) through the shared router. */
  private def knnRouted(req: JsonNode, e: Entity, idCol: String): QueryOps.Routed = {
    val s = e.snapshot
    QueryOps.route(s, s.frame, idCol, Some(nnqOf(req)), Nil, hintsOf(req),
      if (req.has("index")) Some(reqField(req, "index").asText()) else None)
  }

  /** Evaluate a /search/compound tree node — the HTTP twin of the gRPC
    * compound FROM expression (reference `MessageParser.toExpression`).
    * Leaves: `knn` (routed like /query/knn) and `boolean` (conjunctive
    * predicates). Inner nodes combine the two subtrees through
    * [[SetAlgebra.combine]]. */
  private def compoundFrame(node: JsonNode, idCol: String): DataFrame =
    reqField(node, "op").asText() match {
      case "knn" => knnRouted(node, entity(node, "entity"), idCol).frame
      case "boolean" =>
        QueryOps.booleanQuery(entity(node, "entity").read(), predicatesOf(node))
      case op => SetAlgebra.combine(op, compoundFrame(reqField(node, "left"), idCol),
        compoundFrame(reqField(node, "right"), idCol), idCol)
    }

  /** JSON rows as a frame to insert into `e`. Once the entity holds data
    * or declared attributes, the rows are read against its user schema:
    * inferring would widen `int` to `bigint` and `array<float>` to
    * `array<double>`, and the insert would rewrite the whole entity to
    * the drifted schema. The first insert into an undeclared entity, and
    * rows naming a column the entity lacks, infer types. */
  private def jsonRows(e: Entity, rows: Seq[String]): DataFrame = {
    val ds = spark.createDataset(rows)(Encoders.STRING)
    val stored = e.userSchema
    val named = rows.iterator.flatMap(r => mapper.readTree(r).fieldNames().asScala).toSet
    if (stored.isEmpty || !named.subsetOf(stored.fieldNames.toSet)) spark.read.json(ds)
    else spark.read.schema(stored).json(ds)
  }

  private def jsonScalar(n: JsonNode): Any =
    if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else n.asText()

  private def rowsNode(df: DataFrame): JsonNode = {
    val arr = mapper.createArrayNode()
    df.toJSON.limit(maxResults + 1).collect().take(maxResults) // paging cap
      .foreach(r => arr.add(mapper.readTree(r)))
    arr
  }

  // ---- result paging (reference MAX_RESULTS/STEP_SIZE shipping) ----

  /** token → (remaining JSON rows, next offset); bounded LRU so
    * abandoned cursors can't accumulate. */
  private val pages =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, (Array[String], Int)](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Array[String], Int)]): Boolean =
          size() > Server.MaxOpenCursors
      })

  /** (entity, textCol, idCol) → entity stamp at full-text-index build
    * time. The id column is part of BOTH the key and the directory
    * name: the stored postings carry ids of that column, so two
    * clients scoring by different id columns must get distinct
    * layouts, never silently share one. The layout lives INSIDE the
    * entity dir (dropped with the entity; snapshot/vacuum logic only
    * globs `data_v*`, so it is inert to versioning); a stamp mismatch
    * rebuilds it lazily — the same staleness contract as the persisted
    * vector indexes. */
  private val textIndexStamps =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), (Int, Int)]()

  /** Directory of the (lazily-built, stamp-fresh) full-text index for
    * `entity.textCol`, scored by `idCol`. */
  private def textIndexDir(name: String, textCol: String, idCol: String): String = {
    val e = Entity.open(spark, base, name)
    val dir = java.nio.file.Paths.get(base).resolve(name)
      .resolve(s"textidx_${textCol}_$idCol").toString
    val key = (name, textCol, idCol)
    val stamp = e.stamp
    if (textIndexStamps.get(key) != stamp ||
        !graft.sources.FullTextStore.exists(dir)) {
      e.exclusively {
        graft.sources.FullTextStore.write(spark, dir, e.read(), idCol, textCol)
        textIndexStamps.put(key, stamp)
      }
    }
    dir
  }

  /** Emit the first ≤PageSize rows; stash the remainder under a token.
    * `truncated: true` flags a result the maxResults cap cut short —
    * without it a client paging to the end of an exactly-cap-sized
    * response cannot tell complete from clipped. */
  private def pagedRows(out: com.fasterxml.jackson.databind.node.ObjectNode,
                        df: DataFrame): Unit = {
    val collected = df.toJSON.limit(maxResults + 1).collect()
    if (collected.length > maxResults) out.put("truncated", true)
    emitPage(out, collected.take(maxResults), 0)
  }

  private def emitPage(out: com.fasterxml.jackson.databind.node.ObjectNode,
                       rows: Array[String], offset: Int): Unit = {
    val arr = out.putArray("rows")
    val end = math.min(offset + Server.PageSize, rows.length)
    (offset until end).foreach(i => arr.add(mapper.readTree(rows(i))))
    out.put("totalRows", rows.length)
    if (end < rows.length) {
      val token = java.util.UUID.randomUUID().toString
      pages.put(token, (rows, end))
      out.put("pageToken", token)
    }
  }

  private def nextPage(out: com.fasterxml.jackson.databind.node.ObjectNode,
                       token: String): Unit = {
    val entry = pages.remove(token)
    if (entry == null) throw new IllegalArgumentException(s"unknown or expired pageToken")
    emitPage(out, entry._1, entry._2)
  }

  // ---- streaming insert (reference streamInsert per-batch acks) ----

  private def handleStreamInsert(ex: HttpExchange): Unit = {
    val out = mapper.createObjectNode()
    var status = 200
    try {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val params = q.split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap
      val name = params.getOrElse("entity",
        throw new IllegalArgumentException("entity query param required"))
      val batchSize = params.get("batchSize").map(_.toInt).getOrElse(Server.InsertBatch)
      val acks = out.putArray("acks")
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(ex.getRequestBody, StandardCharsets.UTF_8))
      val buf = new scala.collection.mutable.ArrayBuffer[String](batchSize)
      var batchNo = 0
      var total = 0
      var failed = false
      def commit(): Unit = if (buf.nonEmpty && !failed) {
        batchNo += 1
        val ack = acks.addObject()
        ack.put("batch", batchNo)
        ack.put("rows", buf.size)
        try {
          val e = Entity.open(spark, base, name)
          e.insert(jsonRows(e, buf.toSeq))
          total += buf.size
          ack.put("code", "OK")
        } catch {
          case NonFatal(e) => // earlier batches stay committed (reference ack model)
            ack.put("code", "ERROR")
            ack.put("message", String.valueOf(e.getMessage))
            failed = true
        }
        buf.clear()
      }
      var line = reader.readLine()
      while (line != null && !failed) {
        if (line.trim.nonEmpty) {
          buf += line
          if (buf.size >= batchSize) commit()
        }
        line = reader.readLine()
      }
      commit()
      out.put("inserted", total)
      out.put("ok", !failed)
    } catch {
      case NonFatal(e) =>
        status = 400
        out.put("ok", false)
        out.put("error", String.valueOf(e.getMessage))
    }
    val bytes = mapper.writeValueAsBytes(out)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  // ---- progressive query (observation streaming over chunked HTTP) ----

  private def handleProgressive(ex: HttpExchange): Unit = {
    import scala.concurrent.ExecutionContext.Implicits.global
    var streaming = false // headers sent: errors must go on the stream, not as 400
    try {
      // parse BEFORE the response headers go out — bad requests get a plain 400
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val req = mapper.readTree(body)
      val e = entity(req, "entity")
      val idCol = reqField(req, "idCol").asText()
      val nnq = nnqOf(req)
      val snap = e.snapshot
      val indexes = snap.freshIndexesOver(nnq.vecCol)
      val frame = snap.frame

      ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
      ex.sendResponseHeaders(200, 0) // length 0 => chunked: lines flush as plans land
      streaming = true
      val os = ex.getResponseBody
      // after a client disconnect further writes are pointless — go
      // quiet and let the plans finish (Progressive counts its latch
      // down regardless; the Try around onNext guards the callback)
      val broken = new java.util.concurrent.atomic.AtomicBoolean(false)
      def writeLine(n: JsonNode): Unit = if (!broken.get()) os.synchronized {
        try { os.write(mapper.writeValueAsBytes(n)); os.write('\n'); os.flush() }
        catch { case _: java.io.IOException => broken.set(true) }
      }
      def obsNode(o: graft.plans.Progressive.Observation): JsonNode = {
        val n = mapper.createObjectNode()
        n.put("source", o.planDescription)
        n.put("confidence", o.confidence)
        n.put("timeMs", o.timeNanos / 1000000)
        o.result match {
          case scala.util.Success(rows) =>
            n.put("ok", true)
            n.put("rowCount", rows.length)
            // collected rows carry their schema: arrays render as JSON
            // arrays and structs as objects, like every `df.toJSON` reply
            val arr = n.putArray("rows")
            rows.take(Server.PageSize).foreach(r => arr.add(mapper.readTree(r.json)))
          case scala.util.Failure(err) =>
            n.put("ok", false)
            n.put("error", String.valueOf(err.getMessage))
        }
        n
      }
      val hints = graft.plans.Planner.hintsByName(hintsOf(req))
      if (req.has("timedDeadlineMs")) {
        // best-by-deadline: single winning observation (QueryOp.timedParallel)
        val best = QueryOps.timedParallel(spark, frame, idCol, indexes, nnq,
          reqField(req, "timedDeadlineMs").asLong(), hints)
        writeLine(obsNode(best))
      } else {
        QueryOps.parallel(spark, frame, idCol, indexes, nnq, hints)(o => writeLine(obsNode(o)))
      }
      val done = mapper.createObjectNode()
      done.put("done", true)
      done.put("ok", true)
      writeLine(done)
    } catch {
      case NonFatal(err) =>
        val n = mapper.createObjectNode()
        n.put("ok", false)
        n.put("error", String.valueOf(err.getMessage))
        val bytes = mapper.writeValueAsBytes(n)
        if (streaming) {
          ex.getResponseBody.write(bytes); ex.getResponseBody.write('\n')
        } else {
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(400, bytes.length)
          ex.getResponseBody.write(bytes)
        }
    } finally ex.close()
  }

  private def route(path: String, req: JsonNode)
  : com.fasterxml.jackson.databind.node.ObjectNode = {
    val out = mapper.createObjectNode()
    path match {
      case "/entity/create" =>
        Entity.create(spark, base, reqField(req, "name").asText())
        out.put("name", reqField(req, "name").asText())
      case "/entity/insert" =>
        val rows = reqField(req, "rows").elements().asScala.map(_.toString).toSeq
        val e = entity(req)
        e.insert(jsonRows(e, rows))
        out.put("inserted", rows.size)
      case "/entity/list" =>
        val arr = out.putArray("entities")
        Entity.list(base).foreach(arr.add)
      case "/metrics" =>
        // operational snapshot: catalog size, Spark execution state, JVM
        // heap — the health probe a deployment scrapes
        val rt = Runtime.getRuntime
        out.put("entities", Entity.list(base).size)
        out.put("activeJobs", spark.sparkContext.statusTracker.getActiveJobIds().length)
        out.put("cachedRelations", spark.sparkContext.getPersistentRDDs.size)
        out.put("heapUsedMb", (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024))
        out.put("heapMaxMb", rt.maxMemory() / (1024 * 1024))
        out.put("defaultParallelism", spark.sparkContext.defaultParallelism)
      case "/entity/count" =>
        out.put("count", entity(req).count())
      case "/entity/versions" =>
        // retained mutation snapshots (see Entity.retainVersions)
        val arr = out.putArray("versions")
        entity(req).versions.foreach(arr.add)
      case "/entity/retain" =>
        entity(req).retainVersions(reqField(req, "keep").asInt())
        out.put("retain", reqField(req, "keep").asInt())
      case "/entity/diff" =>
        // row-level diff between two retained snapshots, keyed
        pagedRows(out, entity(req).diffVersions(
          reqField(req, "from").asInt(), reqField(req, "to").asInt(),
          reqField(req, "keyCol").asText())
          .orderBy(col("op"), col(reqField(req, "keyCol").asText())))
      case "/entity/snapshot_count" =>
        // row count of a retained snapshot version
        out.put("count", entity(req).readVersion(reqField(req, "version").asInt()).count())
      case "/entity/delete" =>
        out.put("deleted",
          entity(req).deleteWhere(BooleanPredicates.conjunction(predicatesOf(req))))
      case "/entity/preview" =>
        val k = if (req.has("k")) reqField(req, "k").asInt() else 100
        out.set("rows", rowsNode(entity(req).read().limit(k)))
      case "/entity/drop" =>
        entity(req).drop()
        out.put("dropped", reqField(req, "name").asText())
      case "/index/create" =>
        // optional per-type build parameters, same contract as the gRPC
        // IndexMessage.options map; the recorded build recipe lets
        // /index/refresh rebuild a stale index with the original tuning
        val options = Option(req.get("options")).map(o =>
          o.fields().asScala.map(en =>
            en.getKey -> en.getValue.asText()).toMap).getOrElse(Map.empty[String, String])
        out.put("index", IndexOps.createAll(entity(req, "entity"),
          reqField(req, "vecCol").asText(), Seq(reqField(req, "type").asText()),
          reqField(req, "idCol").asText(), options,
          Some(reqField(req, "name").asText())).head)
      case "/index/refresh" =>
        out.put("index",
          IndexOps.refresh(entity(req, "entity"), reqField(req, "name").asText()))
      case "/index/list" =>
        val arr = out.putArray("indexes")
        entity(req, "entity").listIndexes.foreach(arr.add)
      case "/query/boolean" =>
        pagedRows(out,
          QueryOps.booleanQuery(entity(req, "entity").read(), predicatesOf(req)))
      case "/query/page" =>
        nextPage(out, reqField(req, "pageToken").asText())
      case "/query/text" =>
        val mode = reqField(req, "mode").asText()
        val terms = reqField(req, "terms").elements().asScala.map(_.asText()).toSeq
        if (mode == "bm25_indexed") {
          // served from the persisted bucketed-postings layout — the
          // corpus is never re-tokenized at query time
          require(req.has("idCol"), "bm25_indexed requires idCol")
          val idCol = reqField(req, "idCol").asText()
          val dir = textIndexDir(reqField(req, "entity").asText(),
            reqField(req, "textCol").asText(), idCol)
          // same (doc_id, score) shape as the scan-time bm25 mode
          pagedRows(out, graft.sources.FullTextStore.bm25TopK(spark, dir,
            terms, if (req.has("k")) reqField(req, "k").asInt() else 10))
        } else pagedRows(out, QueryOps.text(
          entity(req, "entity").read(),
          reqField(req, "textCol").asText(),
          mode,
          terms,
          idCol = if (req.has("idCol")) reqField(req, "idCol").asText() else "",
          k = if (req.has("k")) reqField(req, "k").asInt() else 10))
      case "/query/knn" =>
        // a stored index serves even when stale and reports it; with
        // hints, `plan` is the plan that runs (chosen once: a second walk
        // could diverge when concurrent queries record planner
        // measurements in between)
        val idCol = reqField(req, "idCol").asText()
        val routed = knnRouted(req, entity(req, "entity"), idCol)
        if (req.has("index")) out.put("stale", routed.stale)
        if (req.has("hints")) routed.plan.foreach(p => out.put("plan", p.describe))
        pagedRows(out, routed.frame.select(col(idCol), col("distance")))
      case "/query/explain" =>
        // formatted physical plan of a kNN or boolean query WITHOUT
        // running it — lets users confirm pushdown/top-k/index shapes
        val e = entity(req, "entity")
        val df = reqField(req, "mode").asText() match {
          // same routing as /query/knn: an index or hints explain the
          // plan that would serve, not the sequential scan
          case "knn" => knnRouted(req, e, reqField(req, "idCol").asText()).frame
          case "boolean" => QueryOps.booleanQuery(e.read(), predicatesOf(req))
          case other => throw new IllegalArgumentException(s"unknown mode: $other")
        }
        out.put("plan", df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        // analyze=true additionally EXECUTES the plan and reports row
        // count + wall time — the EXPLAIN ANALYZE role for quick
        // serving-cost checks through the console
        if (req.has("analyze") && reqField(req, "analyze").asBoolean()) {
          val t0 = System.nanoTime()
          out.put("rows", df.count())
          out.put("wallMs", (System.nanoTime() - t0) / 1000000)
        }
      case "/pipeline/verdicts" =>
        // per-row quality-filter verdicts (the zero-shuffle kernel form)
        def d(name: String, dflt: Double) =
          // reqField also rejects an EXPLICIT null (has() passes it,
          // asDouble would silently read 0.0)
          if (req.has(name)) reqField(req, name).asDouble() else dflt
        pagedRows(out, graft.operators.TextAnalysis.qualityVerdictsPerRow(
          entity(req, "entity").read(),
          reqField(req, "textCol").asText(), reqField(req, "idCol").asText(),
          minQuality = d("minQuality", 0.5),
          maxDupTokenFrac = d("maxDupTokenFrac", 0.6),
          maxTopTokenFrac = d("maxTopTokenFrac", 0.15),
          maxDupBigramFrac = d("maxDupBigramFrac", 0.08),
          maxPii = if (req.has("maxPii")) reqField(req, "maxPii").asInt() else 0))
      case "/pipeline/sample" =>
        import graft.operators.Sampling
        val e = entity(req, "entity").read()
        val keyCol = reqField(req, "keyCol").asText()
        val sampled = reqField(req, "mode").asText() match {
          case "bernoulli" =>
            Sampling.bernoulliSample(e, keyCol, reqField(req, "fraction").asDouble())
          case "stratified" =>
            Sampling.stratifiedSample(e, reqField(req, "strataCol").asText(), keyCol,
              reqField(req, "fraction").asDouble())
          case "exact" => Sampling.exactSample(e, keyCol, reqField(req, "n").asInt())
          case "weighted" => // per-row keep probability from a column
            Sampling.weightedBernoulli(e, keyCol, col(reqField(req, "weightCol").asText()))
          case "epoch_mix" => // fractional-epoch oversampling per domain
            import scala.jdk.CollectionConverters._
            val epochs =
              if (req.has("epochs"))
                reqField(req, "epochs").fields().asScala
                  .map(en => en.getKey -> en.getValue.asDouble()).toMap
              else Map.empty[String, Double]
            Sampling.epochMix(e, reqField(req, "domainCol").asText(), keyCol, epochs,
              if (req.has("defaultEpochs")) reqField(req, "defaultEpochs").asDouble() else 1.0)
          case "temperature_mix" => // sqrt-share domain rebalance
            Sampling.sqrtTemperatureMix(e, reqField(req, "domainCol").asText(), keyCol)
          case "split_assign" => // deterministic train/val/test labels
            import scala.jdk.CollectionConverters._
            Sampling.splitAssign(e, keyCol,
              reqField(req, "fractions").fields().asScala
                .map(en => en.getKey -> en.getValue.asDouble()).toSeq)
          case "token_budget" => // per-domain token caps, best docs first
            import scala.jdk.CollectionConverters._
            val budgets =
              if (req.has("budgets"))
                reqField(req, "budgets").fields().asScala
                  .map(en => en.getKey -> en.getValue.asLong()).toMap
              else Map.empty[String, Long]
            Sampling.tokenBudgetSample(e, reqField(req, "domainCol").asText(), keyCol,
              col(reqField(req, "tokenCol").asText()), budgets,
              if (req.has("defaultBudget")) reqField(req, "defaultBudget").asLong()
              else Long.MaxValue,
              if (req.has("priorityCol")) Some(col(reqField(req, "priorityCol").asText()))
              else None)
          case other => throw new IllegalArgumentException(s"unknown mode: $other")
        }
        pagedRows(out, sampled)
      case "/events/transitions" =>
        // Markov transition matrix of event types
        pagedRows(out, graft.operators.EventAnalytics.transitionMatrix(
          entity(req, "entity").read(),
          tsCol = if (req.has("tsCol")) reqField(req, "tsCol").asText() else "ts",
          userCol = if (req.has("userCol")) reqField(req, "userCol").asText() else "user_id",
          typeCol = if (req.has("typeCol")) reqField(req, "typeCol").asText() else "event_type",
          idCol = if (req.has("idCol")) reqField(req, "idCol").asText() else "event_id")
          .orderBy("from_type", "to_type"))
      case "/events/funnel_cycles" =>
        // repeat-conversion counting (packed-integer fold)
        import scala.jdk.CollectionConverters._
        pagedRows(out, graft.operators.EventAnalytics.funnelCycles(
          entity(req, "entity").read(),
          reqField(req, "steps").elements().asScala.map(_.asText()).toSeq,
          tsCol = if (req.has("tsCol")) reqField(req, "tsCol").asText() else "ts",
          userCol = if (req.has("userCol")) reqField(req, "userCol").asText() else "user_id",
          typeCol = if (req.has("typeCol")) reqField(req, "typeCol").asText() else "event_type",
          maxCycles = if (req.has("maxCycles")) reqField(req, "maxCycles").asInt() else 255)
          .orderBy("user_id"))
      case "/events/funnel" =>
        import scala.jdk.CollectionConverters._
        pagedRows(out, graft.operators.EventAnalytics.funnel(
          entity(req, "entity").read(),
          reqField(req, "steps").elements().asScala.map(_.asText()).toSeq,
          tsCol = if (req.has("tsCol")) reqField(req, "tsCol").asText() else "ts",
          userCol = if (req.has("userCol")) reqField(req, "userCol").asText() else "user_id",
          typeCol = if (req.has("typeCol")) reqField(req, "typeCol").asText() else "event_type"))
      case "/events/sessions" =>
        // gap-based session intervals (bounds + event counts) per user
        pagedRows(out, graft.operators.EventAnalytics.sessions(
          entity(req, "entity").read(),
          gapMicros = reqField(req, "gapMs").asLong() * 1000L,
          tsCol = if (req.has("tsCol")) reqField(req, "tsCol").asText() else "ts",
          userCol = if (req.has("userCol")) reqField(req, "userCol").asText() else "user_id")
          .orderBy("user_id", "session_id"))
      case "/pipeline/sketch" =>
        // bounded-memory profiling sketches: mode=distinct → KMV
        // cardinality estimate of keyCol (optionally per groupCol);
        // mode=heavy_hitters → Misra–Gries top keys with
        // [count, count+err] guarantee bounds
        val e = entity(req, "entity").read()
        val keyCol = reqField(req, "keyCol").asText()
        val grouped =
          if (req.has("groupCol"))
            e.filter(col(reqField(req, "groupCol").asText()).isNotNull)
              .groupBy(col(reqField(req, "groupCol").asText()))
          else e.groupBy()
        val outDf = reqField(req, "mode").asText() match {
          case "distinct" =>
            val k = if (req.has("k")) reqField(req, "k").asInt() else 256
            grouped.agg(org.apache.spark.sql.functions.round(
              graft.functions.KmvDistinct.kmv(
                graft.operators.Sampling.keyHash(col(keyCol)), k), 4)
              .as("distinct_est"))
          case "heavy_hitters" =>
            val m = if (req.has("m")) reqField(req, "m").asInt() else 64
            grouped.agg(graft.functions.HeavyHitters.hitters(col(keyCol), m).as("hh"))
              .select((if (req.has("groupCol"))
                  Seq(col(reqField(req, "groupCol").asText())) else Seq.empty) :+
                org.apache.spark.sql.functions.explode(col("hh")).as("h"): _*)
              .select((if (req.has("groupCol"))
                  Seq(col(reqField(req, "groupCol").asText())) else Seq.empty) ++ Seq(
                col("h.key").as("key"), col("h.count").as("cnt"),
                col("h.err").as("err")): _*)
          case "quantiles" =>
            // bottom-k-by-hash sample quantiles of valueCol; keyCol is
            // the row key whose hash decides sample membership
            val k = if (req.has("k")) reqField(req, "k").asInt() else 256
            val v = reqField(req, "valueCol").asText()
            import graft.functions.BottomKSample
            grouped.agg(BottomKSample.sample(
                graft.operators.Sampling.keyHash(col(keyCol)),
                col(v), k).as("smp"))
              .select((if (req.has("groupCol"))
                  Seq(col(reqField(req, "groupCol").asText())) else Seq.empty) ++ Seq(
                org.apache.spark.sql.functions.size(col("smp")).as("n_sample"),
                BottomKSample.quantileAt(col("smp"), 0.5).as("p50"),
                BottomKSample.quantileAt(col("smp"), 0.9).as("p90"),
                BottomKSample.quantileAt(col("smp"), 0.99).as("p99")): _*)
          case other => throw new IllegalArgumentException(s"unknown mode: $other")
        }
        val sortCols =
          if (outDf.columns.contains("cnt")) // hitters: biggest first
            outDf.columns.toSeq.filterNot(Set("key", "cnt", "err")).map(col) ++
              Seq(col("cnt").desc, col("key"))
          else outDf.columns.toSeq.map(col)
        pagedRows(out, outDf.orderBy(sortCols: _*))
      case "/events/paths" =>
        // top user-journey prefixes (first `steps` event types per user)
        pagedRows(out, graft.operators.EventAnalytics.topPaths(
          entity(req, "entity").read(),
          steps = if (req.has("steps")) reqField(req, "steps").asInt() else 5,
          k = if (req.has("k")) reqField(req, "k").asInt() else 20))
      case "/events/props" =>
        // typed stats over a JSON props field, per event type
        pagedRows(out, graft.operators.EventAnalytics.propsStats(
          entity(req, "entity").read(), reqField(req, "field").asText())
          .orderBy("event_type"))
      case "/events/rolling" =>
        // trailing-N-day rolling mean of daily volume per type
        pagedRows(out, graft.operators.EventAnalytics.rollingDailyAvg(
          entity(req, "entity").read(),
          days = if (req.has("days")) reqField(req, "days").asInt() else 7)
          .orderBy("event_type", "day"))
      case "/events/corr" =>
        // Pearson correlation between types' daily-count series
        pagedRows(out, graft.operators.EventAnalytics.dailyCorr(
          entity(req, "entity").read()).orderBy("type_a", "type_b"))
      case "/events/cube" =>
        // all (event_type, day) grouping sets in one Expand + aggregate
        pagedRows(out, graft.operators.EventAnalytics.cubeReport(
          entity(req, "entity").read(),
          valueCol = if (req.has("valueCol")) reqField(req, "valueCol").asText() else "value")
          .orderBy("gid", "event_type", "day"))
      case "/pipeline/quality_band" =>
        // per-language top-X% quality gate
        pagedRows(out, graft.operators.TextAnalysis.qualityPercentileBand(
          entity(req, "entity").read(), reqField(req, "textCol").asText(),
          reqField(req, "idCol").asText(), reqField(req, "langCol").asText(),
          keepFraction =
            if (req.has("keep")) reqField(req, "keep").asDouble() else 0.3)
          .orderBy(reqField(req, "langCol").asText(), "pct", reqField(req, "idCol").asText()))
      case "/pipeline/keywords" =>
        // TF-IDF top-k terms per document
        pagedRows(out, graft.operators.TextAnalysis.topTerms(
          entity(req, "entity").read(), reqField(req, "textCol").asText(),
          reqField(req, "idCol").asText(),
          k = if (req.has("k")) reqField(req, "k").asInt() else 3)
          .orderBy(reqField(req, "idCol").asText(), "rank"))
      case "/events/anomalies" =>
        // hourly volume spikes/dips by per-type z-score
        pagedRows(out, graft.operators.EventAnalytics.hourlyAnomalies(
          entity(req, "entity").read(),
          threshold =
            if (req.has("threshold")) reqField(req, "threshold").asDouble() else 3.0)
          .orderBy("event_type", "hour"))
      case "/events/retention" =>
        pagedRows(out, graft.operators.EventAnalytics.retention(
          entity(req, "entity").read(),
          tsCol = if (req.has("tsCol")) reqField(req, "tsCol").asText() else "ts",
          userCol = if (req.has("userCol")) reqField(req, "userCol").asText() else "user_id")
          .orderBy("cohort_day", "day_offset"))
      case "/pipeline/run" =>
        // declarative stage list compiled into one plan; each stage is
        // {op, ...params} with params passed through as strings
        import scala.jdk.CollectionConverters._
        val stages = reqField(req, "stages").elements().asScala.map { s =>
          graft.operators.Pipeline.Stage(reqField(s, "op").asText(),
            s.fields().asScala.filter(_.getKey != "op")
              .map(en => en.getKey -> en.getValue.asText()).toMap)
        }.toSeq
        pagedRows(out, graft.operators.Pipeline.run(
          entity(req, "entity").read(),
          reqField(req, "textCol").asText(), reqField(req, "idCol").asText(), stages))
      case "/pipeline/asof" =>
        // point-in-time enrichment of one entity from another: nearest
        // right row per key at-or-before (backward) / at-or-after
        // (forward) each left row, optional tolerance horizon
        import scala.jdk.CollectionConverters._
        def strs(name: String): Seq[String] =
          reqField(req, name).elements().asScala.map(_.asText()).toSeq
        pagedRows(out, graft.operators.AsOfJoin.asOf(
          entity(req, "left").read(), entity(req, "right").read(),
          keys = strs("keys"), tsCol = reqField(req, "tsCol").asText(),
          tieCol = reqField(req, "tieCol").asText(), payload = strs("payload"),
          direction =
            if (req.has("direction")) reqField(req, "direction").asText() else "backward",
          strict = req.has("strict") && reqField(req, "strict").asBoolean(),
          toleranceMicros =
            if (req.has("toleranceMs")) Some(reqField(req, "toleranceMs").asLong() * 1000L)
            else None))
      case "/pipeline/strip_lines" =>
        // C4-style line-level boilerplate removal
        pagedRows(out, graft.operators.Dedup.stripRepeatedLines(
          entity(req, "entity").read(),
          reqField(req, "idCol").asText(), reqField(req, "textCol").asText(),
          if (req.has("minDocs")) reqField(req, "minDocs").asInt() else 2))
      case "/pipeline/strip_chunks" =>
        // boilerplate removal: documents rewritten with corpus-duplicated
        // token windows erased (the fix half of repeated-chunk detection)
        pagedRows(out, graft.operators.Dedup.stripRepeatedChunks(
          entity(req, "entity").read(),
          reqField(req, "idCol").asText(), reqField(req, "textCol").asText(),
          if (req.has("window")) reqField(req, "window").asInt() else 20,
          if (req.has("stride")) reqField(req, "stride").asInt() else 10,
          if (req.has("minDocs")) reqField(req, "minDocs").asInt() else 2))
      case "/pipeline/dedup" =>
        // surviving ids of the end-to-end dedup pipeline
        pagedRows(out, graft.operators.Dedup.dedupPipeline(
          entity(req, "entity").read(),
          reqField(req, "textCol").asText(), reqField(req, "idCol").asText(),
          minQuality =
            if (req.has("minQuality")) reqField(req, "minQuality").asDouble() else 0.0,
          threshold =
            if (req.has("threshold")) reqField(req, "threshold").asDouble() else 0.8))
      case "/pipeline/pack" =>
        // per-document assignments by default; rows=true emits the
        // loader-facing (document, chunk) boundary map instead
        val packFn =
          if (req.has("rows") && reqField(req, "rows").asBoolean())
            graft.operators.Packing.chunkRows _
          else graft.operators.Packing.chunkAssignments _
        pagedRows(out, packFn(
          entity(req, "entity").read(),
          reqField(req, "idCol").asText(), reqField(req, "tokenCol").asText(),
          if (req.has("budget")) reqField(req, "budget").asLong() else 2048L,
          if (req.has("shards")) reqField(req, "shards").asInt() else 32))
      case "/pipeline/components" =>
        // near-dup clustering: banded-minhash pairs -> min-label
        // connected components (id, component = canonical representative)
        import graft.operators.Dedup
        pagedRows(out, Dedup.connectedComponents(
          Dedup.minhashNearDupPairs(
            entity(req, "entity").read(),
            reqField(req, "textCol").asText(), reqField(req, "idCol").asText(),
            if (req.has("threshold")) reqField(req, "threshold").asDouble() else 0.8))
          .orderBy("id"))
      case "/pipeline/contamination" =>
        // benchmark entity is indexed per request here (the RPC/driver
        // paths cache the index; over HTTP pass a small benchmark entity)
        import graft.operators.Dedup
        val bench = entity(req, "bench").read()
        val idx = Dedup.indexCorpus(bench,
          reqField(req, "textCol").asText(), reqField(req, "idCol").asText())
        try pagedRows(out, Dedup.contaminationAgainstCorpus(
          entity(req, "entity").read(),
          reqField(req, "textCol").asText(), reqField(req, "idCol").asText(), idx,
          if (req.has("threshold")) reqField(req, "threshold").asDouble() else 0.8))
        finally idx.release()
      case "/pipeline/quality_score" =>
        // train the fastText-style linear filter on a labeled entity
        // (labelCol = +1 keep / -1 drop), score the target entity
        import graft.operators.QualityClassifier
        val textCol = reqField(req, "textCol").asText()
        val idCol = reqField(req, "idCol").asText()
        val w = QualityClassifier.train(
          entity(req, "labeled").read(), textCol, idCol,
          reqField(req, "labelCol").asText(),
          dim = if (req.has("dim")) reqField(req, "dim").asInt() else 64)
        pagedRows(out, QualityClassifier.score(
          entity(req, "entity").read(), textCol, idCol, w).orderBy("id"))
      case "/pipeline/logppl" =>
        // corpus-frequency LM scores (CCNet-style filter proxy);
        // model=bigram scores TRANSITIONS (interpolated), default unigram
        val e = entity(req, "entity").read()
        val textCol = reqField(req, "textCol").asText()
        val idCol = reqField(req, "idCol").asText()
        val scored =
          if (req.has("model") && reqField(req, "model").asText() == "bigram")
            graft.operators.TextAnalysis.bigramLogPerplexity(e, textCol, idCol,
              if (req.has("lambda")) reqField(req, "lambda").asDouble() else 0.7)
          else graft.operators.TextAnalysis.unigramLogPerplexity(e, textCol, idCol)
        pagedRows(out, scored.orderBy("id"))
      case "/pipeline/novelty" =>
        // cross-corpus n-gram originality scores
        pagedRows(out, graft.operators.TextAnalysis.ngramNovelty(
          entity(req, "entity").read(),
          reqField(req, "textCol").asText(), reqField(req, "idCol").asText(),
          n = if (req.has("n")) reqField(req, "n").asInt() else 3).orderBy("id"))
      case "/pipeline/urls" =>
        // URL hygiene: canonicalize | dedup | domain_cap | blocklist
        import graft.operators.Url
        val e = entity(req, "entity").read()
        val urlCol = reqField(req, "urlCol").asText()
        val dfu = reqField(req, "mode").asText() match {
          case "canonicalize" =>
            e.select(col(reqField(req, "idCol").asText()).as("id"),
              Url.canonicalizeUrl(col(urlCol)).as("url_canon"),
              Url.registrableDomain(Url.host(col(urlCol))).as("domain"))
              .orderBy("id")
          case "dedup" =>
            Url.dedupByCanonicalUrl(e, urlCol, reqField(req, "idCol").asText())
              .orderBy("url_canon")
          case "domain_cap" =>
            Url.domainCap(e, urlCol, reqField(req, "idCol").asText(),
              reqField(req, "cap").asInt()).orderBy("id")
          case "blocklist" =>
            import scala.jdk.CollectionConverters._
            // orderBy so the wire response is run-stable like the other
            // modes, not plan-dependent row order
            Url.domainBlocklistFilter(e, urlCol,
              reqField(req, "blocked").elements().asScala.map(_.asText()).toSeq)
              .orderBy(col(
                if (req.has("idCol")) reqField(req, "idCol").asText() else urlCol))
          case other => throw new IllegalArgumentException(s"unknown mode: $other")
        }
        pagedRows(out, dfu)
      case "/pipeline/cdc" =>
        // content-defined chunking: chunks | repeated (cross-doc spans)
        val e = entity(req, "entity").read()
        val w = if (req.has("window")) reqField(req, "window").asInt() else 8
        val dv = if (req.has("divisor")) reqField(req, "divisor").asInt() else 64
        val dfc = reqField(req, "mode").asText() match {
          case "chunks" => graft.operators.Dedup.cdcChunks(e,
            reqField(req, "textCol").asText(), reqField(req, "idCol").asText(), w, dv)
            .orderBy("id", "chunk_idx")
          case "repeated" => graft.operators.Dedup.cdcRepeatedChunks(e,
            reqField(req, "textCol").asText(), reqField(req, "idCol").asText(), w, dv,
            minDocs = if (req.has("minDocs")) reqField(req, "minDocs").asInt() else 2)
            .orderBy("chunk_hash")
          case other => throw new IllegalArgumentException(s"unknown mode: $other")
        }
        pagedRows(out, dfc)
      case "/pipeline/chunks" =>
        // cross-document repeated spans (strided chunk hashing)
        pagedRows(out, graft.operators.Dedup.repeatedChunks(
          entity(req, "entity").read(),
          reqField(req, "idCol").asText(), reqField(req, "textCol").asText(),
          window = if (req.has("window")) reqField(req, "window").asInt() else 20,
          stride = if (req.has("stride")) reqField(req, "stride").asInt() else 10)
          .orderBy("chunk_hash"))
      case "/pipeline/semantic_dedup" =>
        // SemDeDup over an embedding column; centroids default to the k
        // lowest-id rows (k-row bounded collect), train=true fits
        // deterministic k-means on a bounded sample instead; pairs=true
        // emits the pair list instead of the surviving rows
        import graft.operators.Ann
        val e = entity(req, "entity").read()
        val idCol = reqField(req, "idCol").asText()
        val vecCol = reqField(req, "vecCol").asText()
        val k = if (req.has("k")) reqField(req, "k").asInt() else 16
        val threshold =
          if (req.has("threshold")) reqField(req, "threshold").asDouble() else 0.9
        val centroids =
          if (req.has("train") && reqField(req, "train").asBoolean())
            Ann.trainSemanticCentroids(e, vecCol, k)
          else e.orderBy(col(idCol)).limit(k)
            .select(col(vecCol).cast("array<double>"))
            .collect().map(_.getSeq[Double](0).toSeq).toSeq
        val outDf =
          if (req.has("pairs") && reqField(req, "pairs").asBoolean())
            Ann.semanticDedupPairs(e, idCol, vecCol, centroids, threshold)
              .orderBy("cluster", "id_a", "id_b")
          else Ann.semanticDedupSurvivors(e, idCol, vecCol, centroids, threshold)
            .orderBy(col(idCol))
        pagedRows(out, outDf)
      case "/pipeline/keep_best" =>
        // near-dup cluster survivors under a priority column (keep the
        // longest/highest-quality variant per cluster; default priority
        // is text length)
        val textCol = reqField(req, "textCol").asText()
        val pri =
          if (req.has("priorityCol")) col(reqField(req, "priorityCol").asText())
          else org.apache.spark.sql.functions.length(col(textCol))
        val idCol = reqField(req, "idCol").asText()
        pagedRows(out, graft.operators.Dedup.nearDupKeepBest(
          entity(req, "entity").read(), textCol, idCol,
          if (req.has("threshold")) reqField(req, "threshold").asDouble() else 0.8,
          pri).orderBy(col(idCol)))
      case "/pipeline/shuffle" =>
        // reproducible training-order shuffle (hash-of-(id, seed) key)
        pagedRows(out, graft.operators.Sampling.deterministicShuffle(
          entity(req, "entity").read(), reqField(req, "idCol").asText(),
          if (req.has("seed")) reqField(req, "seed").asLong() else 42L))
      case "/pipeline/fuzzy" =>
        // FastSS edit-distance joins: pairs = self near-dup names;
        // lookup = correct entity strings against a dictionary entity
        import graft.operators.FuzzyJoin
        val e = entity(req, "entity").read()
        val strCol = reqField(req, "strCol").asText()
        val idCol = reqField(req, "idCol").asText()
        val k = if (req.has("maxDist")) reqField(req, "maxDist").asInt() else 1
        // maxLen: rows with longer strings FAIL the request loudly
        // unless dropLong=true excludes them (FuzzyJoin's short-string
        // contract) — surfaced so a caller can widen the bound
        // knowingly for long SKUs/titles, or opt into the admission
        // filter explicitly
        val maxLen = if (req.has("maxLen")) reqField(req, "maxLen").asInt()
          else FuzzyJoin.DefaultMaxLen
        val dropLong = req.has("dropLong") && reqField(req, "dropLong").asBoolean()
        val dff = reqField(req, "mode").asText() match {
          case "pairs" =>
            FuzzyJoin.editDistancePairs(e, strCol, idCol, k,
                maxBucket = if (req.has("maxBucket")) reqField(req, "maxBucket").asInt()
                  else Int.MaxValue,
                maxLen = maxLen, dropLongStrings = dropLong)
              .orderBy("id_a", "id_b")
          case "lookup" =>
            val dict = entity(req, "dict").read()
            FuzzyJoin.editDistanceJoin(e, strCol, idCol,
                dict, reqField(req, "dictStrCol").asText(),
                reqField(req, "dictIdCol").asText(), k, maxLen = maxLen,
                dropLongStrings = dropLong)
              .orderBy(idCol, reqField(req, "dictIdCol").asText())
          case other => throw new IllegalArgumentException(s"unknown mode: $other")
        }
        pagedRows(out, dff)
      case "/pipeline/geo" =>
        // planar geometry over entity point columns (the PostGIS-role
        // wire surface): contains = rows inside one WKT polygon;
        // contains_join = grid tile join against a fence list;
        // distance = dwithin filter against a WKT linestring route
        import graft.operators.GeoAlgebra
        val e = entity(req, "entity").read()
        val xCol = reqField(req, "xCol").asText()
        val yCol = reqField(req, "yCol").asText()
        val idCol = reqField(req, "idCol").asText()
        // per-mode required fields go through reqField: a missing or
        // null `wkt`/`fences`/`meters`/`wktCol`/`pois` is a 400 naming
        // the field, never an NPE
        val dfg = reqField(req, "mode").asText() match {
          case "contains" =>
            e.filter(GeoAlgebra.stContainsWktLiteral(reqField(req, "wkt").asText(),
                col(xCol).cast("double"), col(yCol).cast("double")))
              .orderBy(idCol)
          case "contains_join" =>
            import scala.jdk.CollectionConverters._
            val spark = e.sparkSession
            import spark.implicits._
            val fences = reqField(req, "fences").elements().asScala.map(f =>
              (reqField(f, "id").asLong(), reqField(f, "wkt").asText())).toSeq
              .toDF("fence_id", "ap_wkt")
              .select(col("fence_id"),
                GeoAlgebra.wktPolygonRing(col("ap_wkt")).as("ap_ring"))
            GeoAlgebra.containsJoin(
                e.select(col(idCol), col(xCol), col(yCol)), xCol, yCol,
                fences, "ap_ring",
                cell = if (req.has("cell")) reqField(req, "cell").asDouble() else 4.0)
              .select(col("fence_id"), col(idCol))
              .orderBy("fence_id", idCol)
          case "distance" =>
            val line = GeoAlgebra.wktLineString(lit(reqField(req, "wkt").asText()))
            val d = e.withColumn("dist",
              round(GeoAlgebra.stDistanceLine(line, col(xCol), col(yCol)), 6))
            (if (req.has("dwithin")) d.filter(col("dist") <= reqField(req, "dwithin").asDouble())
             else d).orderBy(idCol)
          // geodesic (GEOGRAPHY-role) modes: x = longitude, y = latitude
          // on the R = 6371 km sphere. covers = boundary-inclusive
          // membership; dwithin_geo = great-circle radius filter around
          // a WKT POINT; nearest_geo = k nearest of a POI list within
          // the radius (grid equi-join + per-point window, no NLJ)
          case "covers" =>
            e.filter(GeoAlgebra.stCoversWkt(lit(reqField(req, "wkt").asText()),
                col(xCol).cast("double"), col(yCol).cast("double")))
              .orderBy(idCol)
          case "dwithin_geo" =>
            val q = lit(reqField(req, "wkt").asText())
            val meters = reqField(req, "meters").asDouble()
            // spheroid=true measures on the WGS84 rectifying sphere
            // (the PostGIS use_spheroid analogue, Geo's documented
            // residual bounds) instead of the Haversine R
            val radius =
              if (req.has("spheroid") && reqField(req, "spheroid").asBoolean())
                graft.operators.Geo.RectifyingRadiusMeters
              else graft.operators.Geo.SphereRadiusMeters
            e.withColumn("dist_m", round(graft.operators.Geo.haversineMeters(
                col(yCol), col(xCol), graft.operators.Geo.wktLat(q),
                graft.operators.Geo.wktLng(q), radius), 2))
              .filter(col("dist_m") <= meters)
              .orderBy(idCol)
          case "intersects_join" =>
            // entity rows carry polygon WKT; fence list joins via the
            // grid tile equi-join + report-once (no NLJ, no distinct).
            // PLANAR contract (GeoAlgebra.intersectsJoin): the tiling
            // does not wrap at ±180° — dateline-straddling lat/lng
            // polygons must be shifted into one contiguous window
            // client-side first
            import scala.jdk.CollectionConverters._
            val spark = e.sparkSession
            import spark.implicits._
            val wktCol = reqField(req, "wktCol").asText()
            val fences = reqField(req, "fences").elements().asScala.map(f =>
              (reqField(f, "id").asLong(), reqField(f, "wkt").asText())).toSeq
              .toDF("fence_id", "ap_wkt")
              .select(col("fence_id"),
                GeoAlgebra.wktPolygonRing(col("ap_wkt")).as("ap_ring"))
            GeoAlgebra.intersectsJoin(
                e.select(col(idCol),
                  GeoAlgebra.wktPolygonRing(col(wktCol)).as("ap_ring_e")),
                "ap_ring_e", fences, "ap_ring",
                cell = if (req.has("cell")) reqField(req, "cell").asDouble() else 4.0,
                inclusive = req.has("inclusive") && reqField(req, "inclusive").asBoolean())
              .select(col("fence_id"), col(idCol))
              .orderBy("fence_id", idCol)
          case "nearest_geo" =>
            import scala.jdk.CollectionConverters._
            val spark = e.sparkSession
            import spark.implicits._
            val pois = reqField(req, "pois").elements().asScala.map(p =>
              (reqField(p, "id").asLong(), reqField(p, "lat").asDouble(),
                reqField(p, "lng").asDouble())).toSeq
              .toDF("poi_id", "ap_plat", "ap_plng")
            graft.operators.Geo.nearestJoinGeo(
                e.select(col(idCol), col(xCol), col(yCol)), idCol, yCol, xCol,
                pois, "ap_plat", "ap_plng", "poi_id",
                reqField(req, "meters").asDouble(),
                k = if (req.has("k")) reqField(req, "k").asInt() else 1)
              .select(col(idCol), col("poi_id"), col("nn_rank"),
                round(col("dist_m"), 2).as("dist_m"))
              .orderBy(col(idCol), col("nn_rank"))
          case other => throw new IllegalArgumentException(s"unknown mode: $other")
        }
        pagedRows(out, dfg)
      case "/entity/details" =>
        // reference web `GET /entity/details` (AdamController.scala:53-75):
        // entity-level properties, or per-attribute detail when
        // `attribute` is given — the same keys the gRPC
        // GetEntityProperties / GetAttributeProperties RPCs return
        val e = entity(req)
        if (req.has("attribute")) {
          val attribute = reqField(req, "attribute").asText()
          val f = e.read().schema.fields.find(_.name == attribute).getOrElse(
            throw new IllegalArgumentException(s"no such attribute: $attribute"))
          val group = e.attributeGroups.find(_.attrs.contains(attribute))
          out.put("attribute", attribute)
          out.put("type", f.dataType.simpleString)
          out.put("handler", group.map(_.handler).getOrElse("parquet"))
          out.put("store", group.map(_.store).getOrElse(""))
          val arr = out.putArray("indexes")
          IndexOps.over(e, attribute).foreach(arr.add)
        } else {
          val s = e.snapshot
          val (version, inserts) = s.stamp
          out.put("count", s.count)
          out.put("version", version)
          out.put("inserts", inserts)
          out.put("layout", e.layout.map(l =>
            if (l.keyCol.nonEmpty) s"${l.mode}(${l.keyCol})" else l.mode)
            .getOrElse("none"))
          val sch = out.putArray("schema")
          s.frame.drop(Entity.ApId).schema.fields.foreach { f =>
            val o = sch.addObject()
            o.put("name", f.name)
            o.put("type", f.dataType.simpleString)
          }
          val arr = out.putArray("indexes")
          s.listIndexes.sorted.foreach(arr.add)
        }
      case "/index/details" =>
        // reference web `GET /index/details`: type, staleness, and the
        // recorded build recipe (what /index/refresh would rebuild with)
        val e = entity(req, "entity")
        val name = reqField(req, "name").asText()
        val loaded = e.loadIndex(name)
        out.put("index", name)
        out.put("indextype", loaded.index.indexType)
        out.put("stale", loaded.stale)
        val info = out.putObject("buildInfo")
        e.indexBuildInfo(name).toSeq.sortBy(_._1).foreach {
          case (k, v) => info.put(k, v) }
      case "/entity/vacuum" =>
        // reference web `GET /entity/vacuum`: compact small part files
        val parts =
          if (req.has("partitions")) reqField(req, "partitions").asInt() else 8
        entity(req).vacuum(parts)
        out.put("partitions", parts)
      case "/entity/sparsify" =>
        // reference web `GET /entity/sparsify`: rewrite a vector column
        // to the sparse (idx, val, size) encoding
        entity(req).sparsify(reqField(req, "vecCol").asText())
        out.put("sparsified", reqField(req, "vecCol").asText())
      case "/entity/partition" | "/index/partition" =>
        // reference web `POST /entity/partition` / `POST /index/partition`:
        // rewrite the entity's (or a stored index's relation, hash|random
        // only) physical layout. mode ∈ {hash(cols,n), random(n),
        // ecp(vecCol,n), column|bycolumn(keyCol), zorder(cols,n),
        // tile(cols,cell)}; the fields present, in that order, are the
        // mode's columns
        val cols = Seq("cols", "vecCol", "keyCol", "cell").filter(req.has).flatMap { f =>
          val v = reqField(req, f)
          if (v.isArray) v.elements().asScala.map(_.asText()).toSeq else Seq(v.asText())
        }
        val mode = Partitioning.parseMode(reqField(req, "mode").asText(), cols,
          if (req.has("n")) reqField(req, "n").asInt() else 8)
        if (path == "/entity/partition") entity(req).partitionLayout(mode)
        else entity(req, "entity").repartitionIndex(reqField(req, "name").asText(), mode)
        out.put("partitioned", reqField(req, "name").asText())
      case "/entity/storage" =>
        // reference web `POST /entity/storage` (transferStorageHandler):
        // move attributes to a different storage engine; subsequent reads
        // reassemble transparently by the system id
        val attrs = reqField(req, "attributes").elements().asScala.map(_.asText()).toSeq
        entity(req).transferAttributes(attrs, reqField(req, "handler").asText())
        out.put("handler", reqField(req, "handler").asText())
        out.put("moved", attrs.size)
      case "/storagehandlers/list" =>
        // reference web `GET /storagehandlers/list`
        val arr = out.putArray("handlers")
        graft.sources.StorageHandlers.names.foreach(arr.add)
      case "/entity/indexall" =>
        // reference web `POST /entity/indexall` (entityCreateAllIndexes):
        // build the whole family over one attribute; extended=false pins
        // the reference's 8 types
        val extended = !req.has("extended") || reqField(req, "extended").asBoolean()
        val arr = out.putArray("indexes")
        IndexOps.createAll(entity(req, "entity"), reqField(req, "vecCol").asText(),
          if (extended) IndexOps.knownTypes else IndexOps.referenceTypes,
          if (req.has("idCol")) reqField(req, "idCol").asText() else Entity.ApId)
          .foreach(arr.add)
      case "/entity/insertdemo" =>
        // reference web `POST /entity/insertdemo` (GenerateRandomData):
        // fill with deterministic synthetic rows — fully distributed
        // generation (spark.range + hash columns), no driver row loop
        val n = reqField(req, "ntuples").asLong()
        val dims = reqField(req, "ndims").asInt()
        val seed = if (req.has("seed")) reqField(req, "seed").asLong() else 42L
        val df =
          if (req.has("distribution") &&
              reqField(req, "distribution").asText() == "gaussian")
            graft.core.RandomData.generateGaussian(spark, n, dims, seed)
          else graft.core.RandomData.generate(spark, n, dims, seed)
        entity(req).insert(df)
        out.put("inserted", n)
      case "/import" =>
        // reference web `POST /import`: file import through the Spark
        // reader (format ∈ {parquet, orc, json, csv}); creates the
        // entity when absent, appends otherwise
        val name = reqField(req, "name").asText()
        val df = graft.core.ImportExport.importTable(spark,
          reqField(req, "format").asText(), reqField(req, "path").asText())
        Entity.openOrCreate(spark, base, name).insert(df)
        out.put("imported", name)
      case "/export" =>
        // export the entity's logical rows (system id dropped) to a file
        // format — the reference's ProtoExporter role over open formats
        graft.core.ImportExport.export(
          entity(req).read().drop(Entity.ApId),
          reqField(req, "format").asText(), reqField(req, "path").asText())
        out.put("exported", reqField(req, "path").asText())
      case "/search/compound" =>
        // reference web `POST /search/compound`: a recursive set-algebra
        // tree over subqueries — the HTTP twin of the gRPC compound FROM
        // expression (GrpcServer.queryFrame). Leaves are knn/boolean
        // queries; inner nodes combine on the leaf id column. Results
        // are (id, distance) rows: exact sets carry distance 0 like the
        // reference's UnionExpression family, fuzzy forms merge scores.
        val idCol = reqField(req, "idCol").asText()
        pagedRows(out, SetAlgebra.scored(compoundFrame(reqField(req, "tree"), idCol), idCol)
          .orderBy(col("distance"), col(idCol)))
      case "/search/hybrid" =>
        // BM25 + vector cosine fused by reciprocal rank (k0 = 60)
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{round => sround, _}
        val e = entity(req, "entity").read()
        val idCol = reqField(req, "idCol").asText()
        val terms = reqField(req, "terms").elements().asScala.map(_.asText()).toSeq
        val qv = reqField(req, "q").elements().asScala.map(_.asDouble()).toSeq
        val n = if (req.has("k")) reqField(req, "k").asInt() else 10
        val lex = graft.operators.TextSearch.bm25TopK(
            e, idCol, reqField(req, "textCol").asText(), terms, 5 * n)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id").asc)))
          .withColumnRenamed("doc_id", idCol)
        val vec = graft.operators.Knn.knn(e,
            graft.functions.Distances.cosine(col(reqField(req, "vecCol").asText()),
              graft.functions.Distances.vecLit(qv)), 5 * n, col(idCol))
          .withColumn("rank", row_number().over(
            Window.orderBy(col(graft.operators.Knn.DistanceCol).asc,
              col(idCol).asc)))
        pagedRows(out, graft.operators.TextSearch.rrfFuse(lex, vec, idCol)
          .orderBy(col("rrf").desc, col(idCol).asc).limit(n)
          .select(col(idCol), sround(col("rrf"), 6).as("rrf")))
      case other => throw new IllegalArgumentException(s"no such endpoint: $other")
    }
    out
  }
}

object Server {
  /** Rows per response page — reference STEP_SIZE (`MessageParser.scala:503`). */
  val PageSize = 500
  /** Rows per committed streaming-insert batch. */
  val InsertBatch = 500
  /** Bounded LRU of open page cursors. */
  val MaxOpenCursors = 64
  /** Default result cap — reference MAX_RESULTS (`MessageParser.scala:502`). */
  val MaxResults = 50000

  /** Start on `port` (0 = ephemeral); entities live under `base`. */
  def start(spark: SparkSession, base: String, port: Int = 0,
            maxResults: Int = MaxResults): Server = {
    val http = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val server = new Server(spark, base, http, maxResults)
    http.createContext("/", (ex: HttpExchange) => server.handle(ex))
    http.setExecutor(server.pool)
    http.start()
    server
  }
}
