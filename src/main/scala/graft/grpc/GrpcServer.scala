package graft.grpc

import java.io.{ByteArrayInputStream, InputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.sparkproject.connect.grpc.{MethodDescriptor, Server, ServerCallHandler, ServerServiceDefinition}
import org.sparkproject.connect.grpc.inprocess.InProcessServerBuilder
import org.sparkproject.connect.grpc.netty.NettyServerBuilder
import org.sparkproject.connect.grpc.stub.{ServerCalls, StreamObserver}
import org.sparkproject.connect.protobuf.{Descriptors, DynamicMessage}

import graft.api.{IndexOps, NnQuery, QueryOps}
import graft.core.{Entity, Partitioning}
import graft.operators.{BooleanPredicates, Knn, Projections, SetAlgebra}

/** gRPC front door — the reference's primary wire protocol
  * (`S/communication/rpc/DataDefintion.scala:40-230`, `DataQuery.scala:
  * 73-171`), served over the grpc/protobuf runtime Spark ships (shaded
  * `org.sparkproject.connect.*`). Method and message names mirror the
  * reference's public usage sites; see [[Proto]] for the wire-parity
  * caveat (no vendored `.proto` upstream, so field numbers are fresh).
  *
  * Implemented slice: `AdamDefinition.{createEntity, existsEntity,
  * count, insert, streamInsert, dropEntity, listEntities}` and
  * `AdamSearch.{doQuery, previewEntity}` — the create/insert/query round
  * trip the reference's `RPCTestSuite` drives. Errors travel as
  * payload-level `AckMessage(ERROR, …)`, matching the reference, not as
  * gRPC status codes. Results `collect()` at most k / preview-n rows —
  * bounded by construction.
  *
  * This class only decodes messages into the core the HTTP front door
  * shares ([[QueryOps.route]], [[SetAlgebra.combine]],
  * [[Partitioning.parseMode]], [[IndexOps.createAll]], `Entity`'s own
  * mutation lock) and encodes the results; the one policy of its own is
  * that a stale named index is refused, not served.
  */
class GraftGrpcServer(spark: SparkSession, base: String) {
  import Proto._

  /** Close the server half of a bidi call whose client stream failed —
    * without this the call would stay half-open for the channel's
    * lifetime (the request observer's onError does NOT auto-terminate
    * the response side). */
  private def cancelCall(resp: StreamObserver[DynamicMessage], t: Throwable): Unit =
    try resp.onError(org.sparkproject.connect.grpc.Status.CANCELLED
      .withDescription(Option(t.getMessage).getOrElse(t.getClass.getSimpleName))
      .withCause(t).asRuntimeException())
    catch { case _: Exception => () } // already closed by the transport

  /** Completed results by queryid, LRU-capped — serves `GetCachedResults`
    * (reference caches query results by id, `DataQuery.scala:366-382`).
    * Entries are fully materialized messages (k-row bounded), so the cap
    * bounds memory at ~100 × k rows. */
  private val queryResults = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, DynamicMessage](128, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, DynamicMessage]): Boolean = size() > 100
    })

  /** Cancel thunks for running multi-plan queries, by queryid — lets
    * `StopQuery` reach every racing job group of a progressive, parallel
    * or timed run. */
  private val running = scala.collection.concurrent.TrieMap.empty[String, () => Unit]

  // ---- wire plumbing -------------------------------------------------------

  private def marshaller(desc: Descriptors.Descriptor) =
    new MethodDescriptor.Marshaller[DynamicMessage] {
      override def stream(value: DynamicMessage): InputStream =
        new ByteArrayInputStream(value.toByteArray)
      override def parse(s: InputStream): DynamicMessage =
        DynamicMessage.parseFrom(desc, s)
    }

  private def method(service: String, name: String, req: String, resp: String,
                     mt: MethodDescriptor.MethodType)
  : MethodDescriptor[DynamicMessage, DynamicMessage] =
    MethodDescriptor.newBuilder(marshaller(msg(req)), marshaller(msg(resp)))
      .setFullMethodName(MethodDescriptor.generateFullMethodName(s"adam.$service", name))
      .setType(mt).build()

  private def unary(f: DynamicMessage => DynamicMessage)
  : ServerCallHandler[DynamicMessage, DynamicMessage] =
    ServerCalls.asyncUnaryCall(
      new ServerCalls.UnaryMethod[DynamicMessage, DynamicMessage] {
        override def invoke(req: DynamicMessage,
                            obs: StreamObserver[DynamicMessage]): Unit = {
          // the snapshots the call reads stay leased until its response
          // message is built
          obs.onNext(Entity.leasing(f(req)))
          obs.onCompleted()
        }
      })

  // ---- message helpers -----------------------------------------------------

  private def str(m: DynamicMessage, name: String): String =
    m.getField(m.getDescriptorForType.findFieldByName(name)).asInstanceOf[String]

  private def sub(m: DynamicMessage, name: String): DynamicMessage =
    m.getField(m.getDescriptorForType.findFieldByName(name))
      .asInstanceOf[DynamicMessage]

  private def strs(m: DynamicMessage, name: String): Seq[String] =
    m.getField(m.getDescriptorForType.findFieldByName(name))
      .asInstanceOf[java.util.List[_]].asScala.map(_.toString).toSeq

  /** Repeated WhereMessage field → conjunctive predicates (reference
    * prepareBQ, `MessageParser.scala:348-381`); an empty op reads `=`. */
  private def wherePredicates(m: DynamicMessage, name: String): Seq[BooleanPredicates.Predicate] =
    m.getField(m.getDescriptorForType.findFieldByName(name))
      .asInstanceOf[java.util.List[_]].asScala.toSeq.map { w =>
        val wm = w.asInstanceOf[DynamicMessage]
        val values = wm.getField(msg("WhereMessage").findFieldByName("values"))
          .asInstanceOf[java.util.List[_]].asScala.toSeq
          .map(v => valueOf(v.asInstanceOf[DynamicMessage]))
        BooleanPredicates.Predicate(str(wm, "attribute"),
          { val op = str(wm, "op"); if (op.isEmpty) "=" else op }, values)
      }

  private def ackOf(ok: Boolean, text: String = ""): DynamicMessage = ack(ok, text)

  private def withAck(respType: String, ok: Boolean, text: String = "")
  : DynamicMessage.Builder =
    newMsg(respType).setField(msg(respType).findFieldByName("ack"), ackOf(ok, text))

  private def attributeType(name: String): DataType = name.toLowerCase match {
    case "string" | "text" => StringType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "boolean" => BooleanType
    case "vector" | "feature" => ArrayType(FloatType, containsNull = false)
    case other => throw new IllegalArgumentException(s"unknown attributetype: $other")
  }

  private def coerce(value: Any, dt: DataType): Any = (value, dt) match {
    case (null, _) => null
    case (v: Number, IntegerType) => v.intValue()
    case (v: Number, LongType) => v.longValue()
    case (v: Number, FloatType) => v.floatValue()
    case (v: Number, DoubleType) => v.doubleValue()
    case (v: Seq[_], ArrayType(FloatType, _)) => v.map(_.asInstanceOf[Float])
    case (v, _) => v
  }

  /** The schema inserted tuples are coerced against: the entity's user
    * attributes, declared at createEntity until the first insert. */
  private def entitySchema(e: Entity): StructType = {
    val s = e.userSchema
    require(s.fields.nonEmpty,
      s"entity ${e.name} is empty and has no declared schema — createEntity " +
        "with attributes (or insert through another API) first")
    s
  }

  private def doInsert(req: DynamicMessage): DynamicMessage = try {
    val e = Entity.open(spark, base, str(req, "entity"))
    val schema = entitySchema(e)
    val tuplesF = req.getDescriptorForType.findFieldByName("tuples")
    val rows = req.getField(tuplesF).asInstanceOf[java.util.List[_]].asScala.map { t =>
      val data = dataMap(t.asInstanceOf[DynamicMessage], "TupleInsertMessage")
      Row.fromSeq(schema.fields.toSeq.map(f => coerce(data.getOrElse(f.name, null), f.dataType)))
    }
    e.insert(spark.createDataFrame(rows.asJava, schema))
    ackOf(ok = true)
  } catch { case e: Exception => ackOf(ok = false, e.getMessage) }

  /** k-row result frame → QueryResultsMessage (one info block). */
  /** Pre-collected rows → QueryResultsMessage; `confidence`/`timeMs`
    * mirror the reference's per-observation result info
    * (`MessageParser.prepareResults`). */
  private def rowsMessage(rows: Seq[Row], fieldNames: Seq[String],
                          source: String, queryid: String,
                          confidence: Double = 1.0, timeMs: Long = 0L)
  : DynamicMessage = {
    val tupleDesc = msg("QueryResultTupleMessage")
    val tuples = rows.map { r => // bounded: k / preview-n rows
      val b = DynamicMessage.newBuilder(tupleDesc)
      fieldNames.zipWithIndex.foreach { case (f, i) =>
        val v = r.get(i) match {
          case s: scala.collection.Seq[_] => s.toSeq
          case other => other
        }
        b.addRepeatedField(tupleDesc.findFieldByName("data"),
          dataEntry("QueryResultTupleMessage", f, dataOf(v)))
      }
      b.build()
    }
    val infoDesc = msg("QueryResultInfoMessage")
    val info = withAck("QueryResultInfoMessage", ok = true)
      .setField(infoDesc.findFieldByName("queryid"), queryid)
      .setField(infoDesc.findFieldByName("source"), source)
      .setField(infoDesc.findFieldByName("confidence"),
        java.lang.Double.valueOf(confidence))
      .setField(infoDesc.findFieldByName("time"), java.lang.Long.valueOf(timeMs))
    tuples.foreach(t => info.addRepeatedField(infoDesc.findFieldByName("results"), t))
    withAck("QueryResultsMessage", ok = true)
      .addRepeatedField(msg("QueryResultsMessage").findFieldByName("responses"),
        info.build())
      .build()
  }

  private def resultsMessage(df: DataFrame, source: String, queryid: String)
  : DynamicMessage =
    rowsMessage(df.collect().toSeq, df.schema.fieldNames.toSeq, source, queryid)

  private def errorResults(text: String): DynamicMessage =
    withAck("QueryResultsMessage", ok = false, text).build()

  // ---- AdamDefinition ------------------------------------------------------

  val definitionService: ServerServiceDefinition = {
    val b = ServerServiceDefinition.builder("adam.AdamDefinition")
    def u(name: String, req: String, resp: String)(f: DynamicMessage => DynamicMessage) =
      b.addMethod(method("AdamDefinition", name, req, resp,
        MethodDescriptor.MethodType.UNARY), unary(f))

    u("CreateEntity", "CreateEntityMessage", "AckMessage") { req =>
      try {
        val name = str(req, "entity")
        val attrsF = req.getDescriptorForType.findFieldByName("attributes")
        val fields = req.getField(attrsF).asInstanceOf[java.util.List[_]].asScala.map { a =>
          val am = a.asInstanceOf[DynamicMessage]
          StructField(str(am, "name"), attributeType(str(am, "attributetype")))
        }
        require(fields.nonEmpty, "no attributes")
        Entity.create(spark, base, name, StructType(fields.toSeq))
        ackOf(ok = true, name) // reference echoes the entityname on OK
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    u("ExistsEntity", "EntityNameMessage", "ExistsMessage") { req =>
      val exists = Entity.exists(base, str(req, "entity"))
      withAck("ExistsMessage", ok = true)
        .setField(msg("ExistsMessage").findFieldByName("exists"),
          java.lang.Boolean.valueOf(exists))
        .build()
    }

    u("Count", "EntityNameMessage", "AckMessage") { req =>
      try // reference carries the count in the ack message text
        ackOf(ok = true, Entity.open(spark, base, str(req, "entity")).count().toString)
      catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    u("Insert", "InsertMessage", "AckMessage")(doInsert)

    u("DropEntity", "EntityNameMessage", "AckMessage") { req =>
      try {
        val name = str(req, "entity")
        // dropping retires the snapshot, which unpersists what
        // CacheEntity/CacheIndex pinned
        Entity.open(spark, base, name).drop()
        ackOf(ok = true)
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    u("ListEntities", "EmptyMessage", "EntitiesMessage") { _ =>
      val out = withAck("EntitiesMessage", ok = true)
      Entity.list(base).sorted.foreach(n =>
        out.addRepeatedField(msg("EntitiesMessage").findFieldByName("entities"), n))
      out.build()
    }

    u("Index", "IndexMessage", "AckMessage") { req =>
      try {
        val name = str(req, "entity")
        val attribute = str(req, "attribute")
        val indextype = str(req, "indextype")
        // per-type build parameters ride the options map (reference
        // IndexMessage.options → generator factories)
        val entryD = msg("IndexMessage").findNestedTypeByName("OptionsEntry")
        val options = req.getField(
          req.getDescriptorForType.findFieldByName("options"))
          .asInstanceOf[java.util.List[_]].asScala.map { o =>
            val om = o.asInstanceOf[DynamicMessage]
            om.getField(entryD.findFieldByName("key")).asInstanceOf[String] ->
              om.getField(entryD.findFieldByName("value")).asInstanceOf[String]
          }.toMap
        // the recorded build recipe lets RefreshIndex rebuild a stale
        // index with the ORIGINAL tuning
        val indexname = IndexOps.createAll(Entity.open(spark, base, name), attribute,
          Seq(indextype), options = options).head
        ackOf(ok = true, indexname) // reference echoes the index name
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    def propertiesMsg(ok: Boolean, text: String, props: Seq[(String, String)])
    : DynamicMessage = {
      val pd = msg("PropertiesMessage")
      val entryD = pd.findNestedTypeByName("PropertiesEntry")
      val b = withAck("PropertiesMessage", ok, text)
      props.foreach { case (k, v) =>
        b.addRepeatedField(pd.findFieldByName("properties"),
          DynamicMessage.newBuilder(entryD)
            .setField(entryD.findFieldByName("key"), k)
            .setField(entryD.findFieldByName("value"), v).build())
      }
      b.build()
    }

    u("GetEntityProperties", "EntityPropertiesMessage", "PropertiesMessage") { req =>
      try {
        val s = Entity.open(spark, base, str(req, "entity")).snapshot
        val (version, inserts) = s.stamp
        propertiesMsg(ok = true, "", Seq(
          "count" -> s.count.toString,
          "version" -> version.toString,
          "inserts" -> inserts.toString,
          "schema" -> s.frame.drop("ap_id").schema.fields
            .map(f => s"${f.name}:${ProtoImportExport.typeNameOf(f.dataType)}")
            .mkString(","),
          "indexes" -> s.listIndexes.sorted.mkString(",")))
      } catch { case e: Exception => propertiesMsg(ok = false, e.getMessage, Nil) }
    }

    // per-attribute properties (reference getAttributeProperties,
    // DataDefintion.scala:452-463): declared type, serving storage
    // handler (primary parquet or the attribute group's handler), and
    // the indexes defined over the attribute
    u("GetAttributeProperties", "AttributePropertiesMessage", "PropertiesMessage") { req =>
      try {
        val e = Entity.open(spark, base, str(req, "entity"))
        val attribute = str(req, "attribute")
        val f = e.read().schema.fields.find(_.name == attribute).getOrElse(
          throw new IllegalArgumentException(s"no such attribute: $attribute"))
        val group = e.attributeGroups.find(_.attrs.contains(attribute))
        // the serving handler's configuration rides along as param_*
        // entries (key column / bucket count for the KV store, format
        // for file groups) — the reference returns per-attribute handler
        // detail the same way
        val handlerParams = e.handlerFor(group.map(_.handler).getOrElse("parquet"))
          .params.toSeq.sortBy(_._1).map { case (k, v) => s"param_$k" -> v }
        propertiesMsg(ok = true, "", Seq(
          "type" -> ProtoImportExport.typeNameOf(f.dataType),
          "handler" -> group.map(_.handler).getOrElse("parquet"),
          "store" -> group.map(_.store).getOrElse(""),
          "indexes" -> IndexOps.over(e, attribute).mkString(",")) ++ handlerParams)
      } catch { case e: Exception => propertiesMsg(ok = false, e.getMessage, Nil) }
    }

    u("GetIndexProperties", "IndexPropertiesMessage", "PropertiesMessage") { req =>
      try {
        val e = Entity.open(spark, base, str(req, "entity"))
        val loaded = e.loadIndex(str(req, "index"))
        propertiesMsg(ok = true, "", Seq(
          "indextype" -> loaded.index.getClass.getSimpleName,
          "stale" -> loaded.stale.toString))
      } catch { case e: Exception => propertiesMsg(ok = false, e.getMessage, Nil) }
    }

    u("GenerateRandomData", "GenerateRandomDataMessage", "AckMessage") { req =>
      try {
        import org.apache.spark.sql.functions._
        val name = str(req, "entity")
        val d = req.getDescriptorForType
        val n = req.getField(d.findFieldByName("ntuples")).asInstanceOf[Long]
        val dims0 = req.getField(d.findFieldByName("dims")).asInstanceOf[Int]
        val dims = if (dims0 <= 0) 16 else dims0
        require(n > 0, "ntuples must be positive")
        val e = Entity.open(spark, base, name)
        val schema = entitySchema(e)
        // deterministic per-type filler (xxhash-derived, like RandomData)
        val df0 = spark.range(n).toDF()
        val df = schema.fields.foldLeft(df0) { (acc, f) =>
          val h = xxhash64(col("id"), lit(f.name))
          acc.withColumn(f.name, f.dataType match {
            case StringType => concat(lit("s"), pmod(h, lit(1000L)))
            case IntegerType => pmod(h, lit(1000L)).cast("int")
            case LongType => pmod(h, lit(100000L))
            case FloatType => (pmod(h, lit(1000000L)).cast("double") / 1e6).cast("float")
            case DoubleType => pmod(h, lit(1000000L)).cast("double") / 1e6
            case BooleanType => pmod(h, lit(2L)) === 1
            case ArrayType(FloatType, _) =>
              transform(sequence(lit(0), lit(dims - 1)), i =>
                (pmod(xxhash64(col("id"), lit(f.name), i), lit(1000000L))
                  .cast("double") / 1e6).cast("float"))
            case other => throw new IllegalArgumentException(s"cannot fill $other")
          })
        }.select(schema.fieldNames.map(col).toSeq: _*)
        e.insert(df)
        ackOf(ok = true, n.toString)
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    u("AvailableAttributeTypes", "EmptyMessage", "AvailableAttributeTypesMessage") { _ =>
      val out = withAck("AvailableAttributeTypesMessage", ok = true)
      Seq("string", "int", "long", "float", "double", "boolean", "vector")
        .foreach(t => out.addRepeatedField(
          msg("AvailableAttributeTypesMessage").findFieldByName("attributetypes"), t))
      out.build()
    }

    u("ListStorageHandlers", "EmptyMessage", "StorageHandlersMessage") { _ =>
      val out = withAck("StorageHandlersMessage", ok = true)
      graft.sources.StorageHandlers.names.foreach(h => out.addRepeatedField(
        msg("StorageHandlersMessage").findFieldByName("handlers"), h))
      out.build()
    }

    u("GenerateAllIndexes", "IndexMessage", "IndexesMessage") { req =>
      try {
        // the full family — reference 8 + ivfpq/sq, so the wire surface
        // exposes every structure the planner can route to
        val names = IndexOps.createAll(
          Entity.open(spark, base, str(req, "entity")), str(req, "attribute"))
        val out = withAck("IndexesMessage", ok = true)
        names.foreach(n =>
          out.addRepeatedField(msg("IndexesMessage").findFieldByName("indexes"), n))
        out.build()
      } catch { case e: Exception =>
        withAck("IndexesMessage", ok = false, e.getMessage).build()
      }
    }

    u("AdaptScanMethods", "AdaptScanMethodsMessage", "AckMessage") { req =>
      try {
        val e = Entity.open(spark, base, str(req, "entity"))
        val attribute = str(req, "attribute")
        // train on the set the router walks for this attribute
        val indexes = e.snapshot.freshIndexesOver(attribute)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        val frame = e.read()
        val n = graft.api.PlannerOps.train(spark, frame, "ap_id", attribute, indexes)
        // the same sweep also trains the dedup-path chooser over the
        // vector attribute (two sample sizes -> power-law fit), so the
        // LLM-pipeline surface adapts alongside the kNN scan methods
        val dim = frame.select(attribute).limit(1).collect()
          .headOption.map(_.getSeq[Any](0).size).getOrElse(0)
        val total = frame.count()
        val m =
          if (dim > 0 && total >= 8)
            graft.plans.DedupPlanner.train(frame, Entity.ApId, attribute,
              threshold = 0.9, dim = dim,
              // cap BEFORE toInt: the exact path is O(n²) over the sample, and
              // an uncapped total.toInt overflows past 2^31 rows
              sizes = Seq(math.min(total / 4, 1250L).toInt.max(2),
                math.min(total, 5000L).toInt))
          else 0
        ackOf(ok = true, (n + m).toString) // measurements recorded
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    u("GetScoredExecutionPath", "ScoredExecutionPathsRequest",
      "ScoredExecutionPathsMessage") { req =>
      try {
        val e = Entity.open(spark, base, str(req, "entity"))
        val dist = { val d = str(req, "distance"); if (d.isEmpty) "euclidean" else d }
        // the request names no attribute: every fresh index
        val indexes = e.freshIndexes
        val pd = msg("ScoredExecutionPathsMessage")
        val pathD = msg("ScoredExecutionPathMessage")
        val out = withAck("ScoredExecutionPathsMessage", ok = true)
        // kNN scan methods, then the dedup scan methods (trained by the
        // same AdaptScanMethods sweep): predicted nanos inverted into a
        // bigger-is-better score like the kNN side; untrained paths
        // (MaxValue prediction) report score 0. Introspection must stay
        // metadata-cheap: untrained predictions ignore n entirely (skip
        // the count), and a trained lookup uses the snapshot's footer
        // count, never a fresh corpus scan per RPC
        val dedupN =
          if (graft.plans.DedupPlanner.measurementCount == 0) 0L
          else e.count()
        val dedup = graft.plans.DedupPlanner.scoredPaths(dedupN)
          .map { case (p, nanos) =>
            p -> (if (nanos == Double.MaxValue) 0.0 else 1e9 / (1e9 + nanos)) }
        (graft.api.PlannerOps.scoredPaths(indexes, dist) ++ dedup)
          .foreach { case (scan, score) =>
          out.addRepeatedField(pd.findFieldByName("paths"),
            DynamicMessage.newBuilder(pathD)
              .setField(pathD.findFieldByName("scan"), scan)
              .setField(pathD.findFieldByName("score"),
                java.lang.Double.valueOf(score))
              .build())
        }
        out.build()
      } catch { case e: Exception =>
        withAck("ScoredExecutionPathsMessage", ok = false, e.getMessage).build()
      }
    }

    u("SparsifyEntity", "SparsifyEntityMessage", "AckMessage") { req =>
      try {
        Entity.open(spark, base, str(req, "entity")).sparsify(str(req, "attribute"))
        ackOf(ok = true)
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    u("VacuumEntity", "EntityNameMessage", "AckMessage") { req =>
      try {
        Entity.open(spark, base, str(req, "entity")).vacuum()
        ackOf(ok = true)
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    u("Delete", "DeleteMessage", "AckMessage") { req =>
      try {
        val preds = wherePredicates(req, "predicates")
        require(preds.nonEmpty, "delete needs at least one predicate")
        val deleted = Entity.open(spark, base, str(req, "entity"))
          .deleteWhere(BooleanPredicates.conjunction(preds))
        ackOf(ok = true, deleted.toString) // reference echoes the count
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    u("RepartitionEntityData", "RepartitionMessage", "AckMessage") { req =>
      try {
        // attributes carry the mode's columns (tile: [x, y, cellSize])
        val mode = Partitioning.parseMode(str(req, "partitioner"), strs(req, "attributes"),
          req.getField(req.getDescriptorForType.findFieldByName("numberOfPartitions"))
            .asInstanceOf[Int])
        Entity.open(spark, base, str(req, "entity")).partitionLayout(mode)
        ackOf(ok = true)
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    // index-table repartition (reference repartitionIndexData,
    // DataDefintion.scala:489-527): hash on the given attributes (the
    // narrow table's id by default) or random; the directory-layout
    // modes (ecp/bycolumn) are entity-level — an index table carries no
    // vector column to cluster by
    u("RepartitionIndexData", "RepartitionMessage", "AckMessage") { req =>
      try {
        val mode = Partitioning.parseMode(str(req, "partitioner"),
          Some(strs(req, "attributes")).filter(_.nonEmpty).getOrElse(Seq(Entity.ApId)),
          req.getField(req.getDescriptorForType.findFieldByName("numberOfPartitions"))
            .asInstanceOf[Int])
        val index = str(req, "index")
        Entity.open(spark, base, str(req, "entity")).repartitionIndex(index, mode)
        ackOf(ok = true, index)
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    // attribute migration between storage handlers (reference
    // transferStorageHandler, DataDefintion.scala:704-720 +
    // storage/Transferer.scala)
    u("TransferStorageHandler", "TransferStorageHandlerMessage", "AckMessage") { req =>
      try {
        Entity.open(spark, base, str(req, "entity"))
          .transferAttributes(strs(req, "attributes"), str(req, "handler"))
        ackOf(ok = true)
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    u("ExistsIndex", "IndexExistsMessage", "ExistsMessage") { req =>
      val exists = try {
        val e = Entity.open(spark, base, str(req, "entity"))
        e.listIndexes.contains(s"${str(req, "indextype")}_${str(req, "attribute")}")
      } catch { case _: Exception => false }
      withAck("ExistsMessage", ok = true)
        .setField(msg("ExistsMessage").findFieldByName("exists"),
          java.lang.Boolean.valueOf(exists))
        .build()
    }

    u("ListIndexes", "EntityNameMessage", "IndexesMessage") { req =>
      try {
        val names = Entity.open(spark, base, str(req, "entity")).listIndexes.sorted
        val out = withAck("IndexesMessage", ok = true)
        names.foreach(n =>
          out.addRepeatedField(msg("IndexesMessage").findFieldByName("indexes"), n))
        out.build()
      } catch { case e: Exception =>
        withAck("IndexesMessage", ok = false, e.getMessage).build()
      }
    }

    u("DropIndex", "IndexNameMessage", "AckMessage") { req =>
      try {
        val entityName = str(req, "entity")
        val index = str(req, "index")
        Entity.open(spark, base, entityName).dropIndex(index)
        ackOf(ok = true)
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    // rebuild a stale index over the current data with its RECORDED
    // build recipe (type/attribute/options from create time) — the
    // post-bulk-insert maintenance call
    u("RefreshIndex", "IndexNameMessage", "AckMessage") { req =>
      try {
        val entityName = str(req, "entity")
        val index = str(req, "index")
        val e = Entity.open(spark, base, entityName)
        graft.api.IndexOps.refresh(e, index)
        ackOf(ok = true, index)
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    u("ProtoExportData", "ProtoExportMessage", "AckMessage") { req =>
      try {
        ProtoImportExport.exportEntity(
          Entity.open(spark, base, str(req, "entity")), str(req, "path"))
        ackOf(ok = true)
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }

    // server-streaming: one ack per imported entity, like the reference's
    // protoImportData (DataDefintion.scala:654-663)
    b.addMethod(
      method("AdamDefinition", "ProtoImportData", "ProtoImportMessage", "AckMessage",
        MethodDescriptor.MethodType.SERVER_STREAMING),
      ServerCalls.asyncServerStreamingCall(
        new ServerCalls.ServerStreamingMethod[DynamicMessage, DynamicMessage] {
          override def invoke(req: DynamicMessage,
                              obs: StreamObserver[DynamicMessage]): Unit = {
            val path = str(req, "path")
            ProtoImportExport.listCatalogs(spark, path).foreach { name =>
              val a = try {
                ProtoImportExport.importEntity(spark, base, path, name)
                ackOf(ok = true, name)
              } catch { case ex: Exception => ackOf(ok = false, ex.getMessage) }
              obs.onNext(a)
            }
            obs.onCompleted()
          }
        }))

    // bidirectional: one ack per insert message, like the reference's
    // streamInsert (DataDefintion.scala:170-208)
    b.addMethod(
      method("AdamDefinition", "StreamInsert", "InsertMessage", "AckMessage",
        MethodDescriptor.MethodType.BIDI_STREAMING),
      ServerCalls.asyncBidiStreamingCall(
        new ServerCalls.BidiStreamingMethod[DynamicMessage, DynamicMessage] {
          override def invoke(resp: StreamObserver[DynamicMessage])
          : StreamObserver[DynamicMessage] = new StreamObserver[DynamicMessage] {
            override def onNext(req: DynamicMessage): Unit = resp.onNext(doInsert(req))
            override def onError(t: Throwable): Unit = cancelCall(resp, t)
            override def onCompleted(): Unit = resp.onCompleted()
          }
        }))

    b.build()
  }

  // ---- AdamSearch ----------------------------------------------------------

  val searchService: ServerServiceDefinition = {
    val b = ServerServiceDefinition.builder("adam.AdamSearch")
    def u(name: String, req: String, resp: String)(f: DynamicMessage => DynamicMessage) =
      b.addMethod(method("AdamSearch", name, req, resp,
        MethodDescriptor.MethodType.UNARY), unary(f))

    u("DoQuery", "QueryMessage", "QueryResultsMessage")(runQuery)

    // streaming queries: one QueryResultsMessage per QueryMessage, like
    // the reference's doStreamingQuery (DataQuery.scala:173-196)
    b.addMethod(
      method("AdamSearch", "DoStreamingQuery", "QueryMessage", "QueryResultsMessage",
        MethodDescriptor.MethodType.BIDI_STREAMING),
      ServerCalls.asyncBidiStreamingCall(
        new ServerCalls.BidiStreamingMethod[DynamicMessage, DynamicMessage] {
          override def invoke(resp: StreamObserver[DynamicMessage])
          : StreamObserver[DynamicMessage] = new StreamObserver[DynamicMessage] {
            override def onNext(req: DynamicMessage): Unit = resp.onNext(runQuery(req))
            override def onError(t: Throwable): Unit = cancelCall(resp, t)
            override def onCompleted(): Unit = resp.onCompleted()
          }
        }))

    u("PreviewEntity", "PreviewMessage", "QueryResultsMessage") { req =>
      try {
        val n = req.getField(req.getDescriptorForType.findFieldByName("n"))
          .asInstanceOf[Int]
        val df = Entity.open(spark, base, str(req, "entity")).read()
        resultsMessage(Projections.preview(df, if (n <= 0) 100 else n), "preview", "")
      } catch { case e: Exception => errorResults(e.getMessage) }
    }

    // ---- progressive / parallel / batch + query lifecycle (reference
    // DataQuery.scala:252-426) ---------------------------------------------

    // one server-streaming body for both: every completed plan becomes a
    // streamed QueryResultsMessage carrying source/confidence/time. The
    // difference mirrors the reference's path choosers — DoProgressiveQuery
    // races EVERY conforming plan (SimpleParallelPathChooser),
    // DoParallelQuery lets the hints restrict the racing set
    // (QueryHintsParallelPathChooser).
    def multiPlanCall(useHints: Boolean) =
      new ServerCalls.ServerStreamingMethod[DynamicMessage, DynamicMessage] {
        override def invoke(req: DynamicMessage,
                            obs: StreamObserver[DynamicMessage]): Unit = {
          import scala.concurrent.ExecutionContext.Implicits.global
          val queryid = try str(req, "queryid") catch { case _: Exception => "" }
          try Entity.leasing {
            val qd = req.getDescriptorForType
            require(req.hasField(qd.findFieldByName("nnq")),
              "nearest neighbour query necessary for parallel query")
            val hints =
              if (!useHints) Nil
              else graft.plans.Planner.hintsByName(strs(req, "hints"))
            racing(req, queryid, hints) { (specs, prefix) =>
              // StreamObserver is not thread-safe and the racing plans complete
              // on independent Futures — serialize every emission on one lock
              val emitLock = new Object
              graft.plans.Progressive.parallel(spark, specs, prefix) { o =>
                val msg = o.result match {
                  case scala.util.Success(rows) =>
                    rowsMessage(rows.toSeq,
                      rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil),
                      o.planDescription, queryid, o.confidence,
                      o.timeNanos / 1000000)
                  case scala.util.Failure(err) =>
                    errorResults(s"${o.planDescription}: ${err.getMessage}")
                }
                emitLock.synchronized(obs.onNext(msg))
              }
              emitLock.synchronized(obs.onCompleted())
            }
          } catch {
            case e: Exception =>
              obs.onNext(errorResults(e.getMessage)); obs.onCompleted()
          }
        }
      }

    b.addMethod(method("AdamSearch", "DoProgressiveQuery", "QueryMessage",
        "QueryResultsMessage", MethodDescriptor.MethodType.SERVER_STREAMING),
      ServerCalls.asyncServerStreamingCall(multiPlanCall(useHints = false)))
    b.addMethod(method("AdamSearch", "DoParallelQuery", "QueryMessage",
        "QueryResultsMessage", MethodDescriptor.MethodType.SERVER_STREAMING),
      ServerCalls.asyncServerStreamingCall(multiPlanCall(useHints = true)))

    u("DoBatchQuery", "BatchedQueryMessage", "BatchedQueryResultsMessage") { req =>
      import scala.concurrent.ExecutionContext.Implicits.global
      val queries = req.getField(
        req.getDescriptorForType.findFieldByName("queries"))
        .asInstanceOf[java.util.List[_]].asScala
        .map(_.asInstanceOf[DynamicMessage]).toSeq
      // concurrent like the reference's request.queries.par; per-query
      // errors land as error acks in their slot, never fail the batch
      val futures = queries.map(q => scala.concurrent.Future(runQuery(q)))
      val out = newMsg("BatchedQueryResultsMessage")
      val rf = msg("BatchedQueryResultsMessage").findFieldByName("results")
      futures.foreach(f => out.addRepeatedField(rf,
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)))
      out.build()
    }

    u("StopQuery", "StopQueryMessage", "AckMessage") { req =>
      val qid = str(req, "queryid")
      spark.sparkContext.cancelJobGroup(qid) // a running DoQuery
      running.get(qid).foreach(_.apply())    // racing progressive groups
      ackOf(ok = true, qid)
    }
    u("StopAllQueries", "EmptyMessage", "AckMessage") { _ =>
      spark.sparkContext.cancelAllJobs()
      ackOf(ok = true)
    }
    u("Ping", "EmptyMessage", "AckMessage")(_ => ackOf(ok = true))

    // both pin into the current snapshot, which unpersists them once a
    // mutation retires it
    u("CacheEntity", "EntityNameMessage", "AckMessage") { req =>
      try {
        val name = str(req, "entity")
        val s = Entity.open(spark, base, name).snapshot
        s.pin(s.frame)
        ackOf(ok = true, name)
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }
    u("CacheIndex", "IndexNameMessage", "AckMessage") { req =>
      try {
        val entityName = str(req, "entity")
        val e = Entity.open(spark, base, entityName)
        e.snapshot.pin(e.indexData(str(req, "index")))
        ackOf(ok = true, entityName) // reference echoes the entity name
      } catch { case e: Exception => ackOf(ok = false, e.getMessage) }
    }
    u("GetCachedResults", "CachedResultsMessage", "QueryResultsMessage") { req =>
      Option(queryResults.get(str(req, "queryid")))
        .getOrElse(errorResults(s"query ${str(req, "queryid")} not cached"))
    }

    b.build()
  }

  /** Any VectorMessage variant to a dense double vector (reference
    * `prepareVector`: dense / sparse / int oneof). Query vectors are
    * tiny, so sparse queries densify here — the entity-side sparse
    * kernels stay sparse. */
  private def denseVec(vm: DynamicMessage): Seq[Double] = {
    val d = vm.getDescriptorForType
    if (vm.hasField(d.findFieldByName("denseVector")))
      sub(vm, "denseVector").getField(
        msg("DenseVectorMessage").findFieldByName("vector"))
        .asInstanceOf[java.util.List[java.lang.Float]].asScala
        .map(_.doubleValue()).toSeq
    else if (vm.hasField(d.findFieldByName("sparseVector"))) {
      val sv = sub(vm, "sparseVector")
      val svD = msg("SparseVectorMessage")
      val idx = sv.getField(svD.findFieldByName("index"))
        .asInstanceOf[java.util.List[_]].asScala.map(_.asInstanceOf[Int]).toSeq
      val data = sv.getField(svD.findFieldByName("data"))
        .asInstanceOf[java.util.List[_]].asScala
        .map(_.asInstanceOf[Float].toDouble).toSeq
      require(idx.size == data.size, "sparse vector index/data length mismatch")
      val len = sv.getField(svD.findFieldByName("length")).asInstanceOf[Int]
      val out = Array.fill(math.max(len, if (idx.isEmpty) 0 else idx.max + 1))(0.0)
      idx.zip(data).foreach { case (i, v) => out(i) = v }
      out.toSeq
    } else if (vm.hasField(d.findFieldByName("intVector")))
      sub(vm, "intVector").getField(
        msg("IntVectorMessage").findFieldByName("vector"))
        .asInstanceOf[java.util.List[_]].asScala
        .map(_.asInstanceOf[Int].toDouble).toSeq
    else throw new IllegalArgumentException("no query vector set")
  }

  private def parseNnq(nnq: DynamicMessage): NnQuery = {
    val q = denseVec(sub(nnq, "query"))
    val d = nnq.getDescriptorForType
    val k = nnq.getField(d.findFieldByName("k")).asInstanceOf[Int]
    val dist = str(nnq, "distance")
    // optional per-dimension weights (reference RankingQuery.weights)
    val weights =
      if (!nnq.hasField(d.findFieldByName("weights"))) None
      else Some(denseVec(sub(nnq, "weights")))
    // a shorter weights vector would zip_with-pad with nulls and the
    // null distances silently sort last — reject at the wire edge
    weights.foreach(ws => require(ws.size == q.size,
      s"weights/query dimension mismatch: ${ws.size} weights for ${q.size}-dim query"))
    NnQuery(str(nnq, "attribute"), q,
      if (dist.isEmpty) "euclidean" else dist, if (k <= 0) 100 else k, weights)
  }

  /** Partition restriction from an nnq message (reference
    * `RankingQuery.partitions`): empty = unrestricted. */
  private def nnqPartitions(nnq: DynamicMessage): Seq[Int] =
    nnq.getField(nnq.getDescriptorForType.findFieldByName("partitions"))
      .asInstanceOf[java.util.List[_]].asScala.map(_.asInstanceOf[Int]).toSeq

  /** Apply a partition-id restriction to an entity scan: valid only for
    * entities with a persisted partition layout — the ids then name real
    * `ap_partition` directories and the isin filter is Catalyst
    * partition pruning, not a row filter. */
  private def restrictPartitions(e: Entity, df: DataFrame, parts: Seq[Int]): DataFrame =
    if (parts.isEmpty) df
    else {
      require(e.layout.isDefined,
        "partition restriction needs a partitioned entity layout")
      df.filter(col(Partitioning.PartitionCol).isin(parts: _*))
    }

  private def ackIsOk(m: DynamicMessage): Boolean = {
    val ack = m.getField(m.getDescriptorForType.findFieldByName("ack"))
      .asInstanceOf[DynamicMessage]
    ack.getField(msg("AckMessage").findFieldByName("code"))
      .asInstanceOf[Descriptors.EnumValueDescriptor].getName == "OK"
  }

  /** Race the plans of a progressive, parallel or timed query: the
    * sequential scan and each fresh index built over the query's
    * attribute that may serve it, restricted by `hints`. `race` runs them
    * under a job-group prefix of their own; with a queryid, `StopQuery`
    * cancels every leg meanwhile. The partition restriction applies to
    * the rerank frame, so every racing plan's FINAL rows honor it (index
    * candidates from other partitions drop in the rerank semi-join). */
  private def racing[T](req: DynamicMessage, queryid: String,
                        hints: Seq[graft.plans.Planner.Hint])
                       (race: (Seq[graft.plans.Progressive.PlanSpec], String) => T): T = {
    val entity = Entity.open(spark, base, str(sub(req, "from"), "entity"))
    val snap = entity.snapshot
    val nnq = parseNnq(sub(req, "nnq"))
    val specs = QueryOps.planSpecsFor(
      restrictPartitions(entity, snap.frame, nnqPartitions(sub(req, "nnq"))),
      Entity.ApId, snap.freshIndexesOver(nnq.vecCol), nnq, hints)
    val prefix =
      if (queryid.isEmpty) graft.plans.Progressive.newGroupPrefix() else s"graft-$queryid-"
    if (queryid.nonEmpty) running.put(queryid, () =>
      specs.foreach(p => spark.sparkContext.cancelJobGroup(s"$prefix${p.description}")))
    try race(specs, prefix)
    finally if (queryid.nonEmpty) running.remove(queryid)
  }

  /** One query, holding the snapshots it reads leased until its result
    * message is built — also for the batch and streaming calls, which
    * run queries on other threads. */
  private def runQuery(req: DynamicMessage): DynamicMessage = Entity.leasing {
    val queryid = try str(req, "queryid") catch { case _: Exception => "" }
    // per-query job group: a non-empty queryid makes this call
    // cancellable via StopQuery (reference cancels by job id,
    // DataQuery.scala:412-417); completed results are kept for
    // GetCachedResults
    val out =
      if (queryid.isEmpty) runQueryBody(req, queryid)
      else {
        spark.sparkContext.setJobGroup(queryid, s"doQuery $queryid",
          interruptOnCancel = true)
        try runQueryBody(req, queryid)
        finally spark.sparkContext.clearJobGroup()
      }
    if (queryid.nonEmpty && ackIsOk(out)) queryResults.put(queryid, out)
    out
  }

  private def runQueryBody(req: DynamicMessage, queryid: String): DynamicMessage = {
      try {
        val qd = req.getDescriptorForType

        // timed query (reference TimedScanExpression via QueryMessage.time,
        // `MessageParser.scala:116-124`): race every conforming plan and
        // answer with the best-confidence result available at the
        // deadline, cancelling the rest — the wire face of
        // Progressive.timed. Boolean-filtered and expression-FROM queries
        // fall through to the single-plan path.
        val timeLimitMs = req.getField(qd.findFieldByName("time"))
          .asInstanceOf[Long]
        val fromMsg = sub(req, "from")
        if (timeLimitMs > 0 && str(fromMsg, "entity").nonEmpty &&
            req.hasField(qd.findFieldByName("nnq")) &&
            !req.hasField(qd.findFieldByName("bq"))) {
          import scala.concurrent.ExecutionContext.Implicits.global
          val o = racing(req, queryid, graft.plans.Planner.hintsByName(strs(req, "hints"))) {
            (specs, prefix) => graft.plans.Progressive.timed(spark, specs, timeLimitMs, prefix)
          }
          return (o.result match {
            case scala.util.Success(rows) =>
              rowsMessage(rows.toSeq,
                rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil),
                o.planDescription, queryid, o.confidence, o.timeNanos / 1000000)
            case scala.util.Failure(err) => errorResults(err.getMessage)
          })
        }

        val (res, source) = queryFrame(req)
        // optional projection wrapper (reference prepareProjectionExpression,
        // MessageParser.scala:242-266): attribute subset, then an optional
        // COUNT / EXISTS / DISTINCT operation
        val projected =
          if (!req.hasField(qd.findFieldByName("projection"))) res
          else {
            val pm = sub(req, "projection")
            val attrs = strs(pm, "attribute")
            // row-returning forms share the boolean-scan page cap (the
            // response collects); count/exists aggregate to one row.
            // ORDER before the cap — a bare .limit over >500 rows
            // returns a partitioning-dependent subset (same defect the
            // compound-expression path fixed): by distance then
            // ap_id when present, else by every projected column
            def orderedCap(df: DataFrame) = {
              val cols = df.columns.toSeq
              val sortKeys =
                if (cols.contains(Knn.DistanceCol))
                  col(Knn.DistanceCol) +: cols.filter(_ == Entity.ApId).map(col)
                else if (cols.contains(Entity.ApId)) Seq(col(Entity.ApId))
                else cols.map(col)
              df.orderBy(sortKeys: _*).limit(500)
            }
            str(pm, "op").toLowerCase match {
              case "" => orderedCap(Projections.project(res, attrs))
              case "count" => Projections.countRows(Projections.project(res, attrs))
              case "exists" => Projections.existsRows(Projections.project(res, attrs))
              case "distinct" => orderedCap(Projections.distinctRows(res, attrs))
              case other =>
                throw new IllegalArgumentException(s"unknown projection op: $other")
            }
          }
        resultsMessage(projected, source, queryid)
      } catch { case e: Exception => errorResults(e.getMessage) }
  }

  /** Evaluate a QueryMessage to its (lazy) result frame — the recursive
    * engine behind [[runQueryBody]] and compound FROM expressions
    * (reference `MessageParser.toExpression`: a FROM may be an entity or
    * a set-algebra expression over two subqueries). */
  private def queryFrame(req: DynamicMessage): (DataFrame, String) = {
    val qd = req.getDescriptorForType
    val fromMsg = sub(req, "from")

    if (fromMsg.hasField(fromMsg.getDescriptorForType.findFieldByName("expression"))) {
      // compound query: combine both subqueries' (ap_id, distance) sets
      // (reference UnionExpression / IntersectExpression / ...)
      val em = sub(fromMsg, "expression")
      val op = str(em, "operation").toLowerCase
      val out = SetAlgebra.combine(op, queryFrame(sub(em, "left"))._1,
        queryFrame(sub(em, "right"))._1, Entity.ApId)
      // order BEFORE the page cap: an unordered limit over a merged
      // set > 500 ids returns a partitioning-dependent subset
      return (out.orderBy(col("distance"), col(Entity.ApId)).limit(500), s"$op expression")
    }

    val entity = Entity.open(spark, base, str(fromMsg, "entity"))
    val snap = entity.snapshot
    val nnqMsg =
      if (req.hasField(qd.findFieldByName("nnq"))) Some(sub(req, "nnq")) else None
    // partition-restricted scan (reference RankingQuery.partitions)
    val df = nnqMsg.fold(snap.frame)(m => restrictPartitions(entity, snap.frame, nnqPartitions(m)))
    val preds =
      if (req.hasField(qd.findFieldByName("bq"))) wherePredicates(sub(req, "bq"), "where")
      else Nil
    if (nnqMsg.isEmpty && preds.isEmpty && req.hasField(qd.findFieldByName("projection")))
      (df, "entity scan") // projection-only query (e.g. COUNT over the whole entity)
    else {
      // hints (reference HintBasedScanExpression): one naming a saved
      // index routes through it, the rest walk the planner
      val routed = QueryOps.route(snap, df, Entity.ApId, nnqMsg.map(parseNnq), preds,
        strs(req, "hints"), index = None)
      // this door refuses a stale index; the HTTP door serves it flagged
      require(!routed.stale, s"${routed.source}: index is stale")
      // a bare Boolean scan is unbounded and the response collects: page
      // cap as on the HTTP door
      (if (nnqMsg.isEmpty) routed.frame.limit(500) else routed.frame, routed.source)
    }
  }

  // ---- lifecycle -----------------------------------------------------------

  /** In-process server (specs, embedded use). */
  def startInProcess(name: String): Server =
    InProcessServerBuilder.forName(name).directExecutor()
      .addService(definitionService).addService(searchService)
      .build().start()

  /** TCP server on `port` (0 = ephemeral; read back via `getPort`). */
  def startNetty(port: Int): Server =
    NettyServerBuilder.forPort(port)
      .addService(definitionService).addService(searchService)
      .build().start()

  /** Method descriptor lookup for clients (specs, tooling). */
  def clientMethod(service: String, name: String, req: String, resp: String,
                   mt: MethodDescriptor.MethodType = MethodDescriptor.MethodType.UNARY)
  : MethodDescriptor[DynamicMessage, DynamicMessage] = method(service, name, req, resp, mt)
}
