package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.sparkproject.connect.grpc.{CallOptions, Channel, MethodDescriptor}
import org.sparkproject.connect.grpc.inprocess.InProcessChannelBuilder
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}
import org.sparkproject.connect.protobuf.DynamicMessage

import graft.grpc.{GraftGrpcServer, Proto}

/** gRPC front-door round trip, mirroring the reference's
  * `RPCTestSuite.scala:40-148` flow: createEntity → insert → count →
  * exists → kNN query → drop, over a real channel (in-process transport
  * for the battery, one TCP/netty round trip for the socket path). */
class GrpcSpec extends SparkSpec {

  private lazy val base = SharedSpark.tempDir("graft-grpc").toString
  private lazy val server = new GraftGrpcServer(spark, base)
  private lazy val inproc = {
    val s = server.startInProcess("graft-grpc-spec")
    s // keep running for the suite; JVM exit cleans up
  }
  private lazy val channel: Channel = {
    inproc
    InProcessChannelBuilder.forName("graft-grpc-spec").directExecutor().build()
  }

  private def call(md: MethodDescriptor[DynamicMessage, DynamicMessage],
                   req: DynamicMessage): DynamicMessage =
    ClientCalls.blockingUnaryCall(channel, md, CallOptions.DEFAULT, req)

  private def mdDef(name: String, req: String, resp: String) =
    server.clientMethod("AdamDefinition", name, req, resp)
  private def mdSearch(name: String, req: String, resp: String) =
    server.clientMethod("AdamSearch", name, req, resp)

  private def str(m: DynamicMessage, f: String): String =
    m.getField(m.getDescriptorForType.findFieldByName(f)).asInstanceOf[String]
  private def sub(m: DynamicMessage, f: String): DynamicMessage =
    m.getField(m.getDescriptorForType.findFieldByName(f)).asInstanceOf[DynamicMessage]
  private def ackOk(m: DynamicMessage): Boolean =
    m.getField(m.getDescriptorForType.findFieldByName("code"))
      .toString == "OK"

  private def attr(n: String, t: String): DynamicMessage = {
    val d = Proto.msg("AttributeDefinitionMessage")
    DynamicMessage.newBuilder(d)
      .setField(d.findFieldByName("name"), n)
      .setField(d.findFieldByName("attributetype"), t).build()
  }

  private def vecMsg(v: Seq[Float]): DynamicMessage = {
    val dvD = Proto.msg("DenseVectorMessage")
    val dv = Proto.newMsg("DenseVectorMessage")
    v.foreach(x => dv.addRepeatedField(dvD.findFieldByName("vector"),
      java.lang.Float.valueOf(x)))
    Proto.newMsg("VectorMessage")
      .setField(Proto.msg("VectorMessage").findFieldByName("denseVector"), dv.build())
      .build()
  }

  private def tuple(label: String, vec: Seq[Float]): DynamicMessage = {
    val d = Proto.msg("TupleInsertMessage")
    Proto.newMsg("TupleInsertMessage")
      .addRepeatedField(d.findFieldByName("data"),
        Proto.dataEntry("TupleInsertMessage", "label", Proto.dataOf(label)))
      .addRepeatedField(d.findFieldByName("data"),
        Proto.dataEntry("TupleInsertMessage", "vec", Proto.dataOf(vec)))
      .build()
  }

  private def insertMsg(entity: String, tuples: Seq[DynamicMessage]): DynamicMessage = {
    val d = Proto.msg("InsertMessage")
    val b = Proto.newMsg("InsertMessage").setField(d.findFieldByName("entity"), entity)
    tuples.foreach(t => b.addRepeatedField(d.findFieldByName("tuples"), t))
    b.build()
  }

  private def entityName(n: String): DynamicMessage =
    Proto.newMsg("EntityNameMessage")
      .setField(Proto.msg("EntityNameMessage").findFieldByName("entity"), n).build()

  test("createEntity -> insert -> count -> exists -> kNN -> drop round trip") {
    val d = Proto.msg("CreateEntityMessage")
    val created = call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcent")
        .addRepeatedField(d.findFieldByName("attributes"), attr("label", "string"))
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())
    ackOk(created) shouldBe true
    str(created, "message") shouldBe "rpcent" // reference echoes entityname

    val ins = call(mdDef("Insert", "InsertMessage", "AckMessage"),
      insertMsg("rpcent", (0 until 20).map(i =>
        tuple(s"l$i", Seq.fill(4)(i.toFloat)))))
    ackOk(ins) shouldBe true

    val cnt = call(mdDef("Count", "EntityNameMessage", "AckMessage"),
      entityName("rpcent"))
    ackOk(cnt) shouldBe true
    str(cnt, "message") shouldBe "20"

    val ex = call(mdDef("ExistsEntity", "EntityNameMessage", "ExistsMessage"),
      entityName("rpcent"))
    ex.getField(ex.getDescriptorForType.findFieldByName("exists"))
      .asInstanceOf[Boolean] shouldBe true

    // kNN over the wire: query [3,3,3,3], k=5 -> nearest is the i=3 tuple
    val qd = Proto.msg("QueryMessage")
    val nnqD = Proto.msg("NearestNeighbourQueryMessage")
    val res = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      Proto.newMsg("QueryMessage")
        .setField(qd.findFieldByName("queryid"), "q1")
        .setField(qd.findFieldByName("from"),
          Proto.newMsg("FromMessage")
            .setField(Proto.msg("FromMessage").findFieldByName("entity"), "rpcent")
            .build())
        .setField(qd.findFieldByName("nnq"),
          Proto.newMsg("NearestNeighbourQueryMessage")
            .setField(nnqD.findFieldByName("attribute"), "vec")
            .setField(nnqD.findFieldByName("query"), vecMsg(Seq(3f, 3f, 3f, 3f)))
            .setField(nnqD.findFieldByName("distance"), "euclidean")
            .setField(nnqD.findFieldByName("k"), Integer.valueOf(5))
            .build())
        .build())
    ackOk(sub(res, "ack")) shouldBe true
    val responses = res.getField(
      res.getDescriptorForType.findFieldByName("responses"))
      .asInstanceOf[java.util.List[_]].asScala.map(_.asInstanceOf[DynamicMessage])
    responses should have size 1
    val tuples = responses.head.getField(
      responses.head.getDescriptorForType.findFieldByName("results"))
      .asInstanceOf[java.util.List[_]].asScala.map(_.asInstanceOf[DynamicMessage])
    tuples should have size 5
    val rows = tuples.map(t => Proto.dataMap(t, "QueryResultTupleMessage"))
    val dists = rows.map(_("distance").asInstanceOf[Double])
    dists shouldBe dists.sorted
    dists.head shouldBe 0.0 +- 1e-9 // exact match at i=3
    rows.head("label") shouldBe "l3"

    val dropped = call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"),
      entityName("rpcent"))
    ackOk(dropped) shouldBe true
    val ex2 = call(mdDef("ExistsEntity", "EntityNameMessage", "ExistsMessage"),
      entityName("rpcent"))
    ex2.getField(ex2.getDescriptorForType.findFieldByName("exists"))
      .asInstanceOf[Boolean] shouldBe false
  }

  test("streamInsert: one ack per message over a bidi stream") {
    val d = Proto.msg("CreateEntityMessage")
    call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcstream")
        .addRepeatedField(d.findFieldByName("attributes"), attr("label", "string"))
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())

    val md = server.clientMethod("AdamDefinition", "StreamInsert",
      "InsertMessage", "AckMessage", MethodDescriptor.MethodType.BIDI_STREAMING)
    val acks = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val done = new CountDownLatch(1)
    val reqObs = ClientCalls.asyncBidiStreamingCall(
      channel.newCall(md, CallOptions.DEFAULT),
      new StreamObserver[DynamicMessage] {
        override def onNext(m: DynamicMessage): Unit =
          acks.synchronized { acks += ackOk(m) }
        override def onError(t: Throwable): Unit = done.countDown()
        override def onCompleted(): Unit = done.countDown()
      })
    reqObs.onNext(insertMsg("rpcstream", Seq(tuple("a", Seq(1f, 2f)))))
    reqObs.onNext(insertMsg("rpcstream", Seq(tuple("b", Seq(3f, 4f)), tuple("c", Seq(5f, 6f)))))
    reqObs.onCompleted()
    done.await(60, TimeUnit.SECONDS) shouldBe true
    acks.toSeq shouldBe Seq(true, true)
    str(call(mdDef("Count", "EntityNameMessage", "AckMessage"),
      entityName("rpcstream")), "message") shouldBe "3"
    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"),
      entityName("rpcstream"))
  }

  private def queryMsg(entity: String, queryid: String,
                       nnq: Option[(String, Seq[Float], String, Int)],
                       where: Seq[(String, String, Seq[Any])] = Nil,
                       hints: Seq[String] = Nil): DynamicMessage = {
    val qd = Proto.msg("QueryMessage")
    val b = Proto.newMsg("QueryMessage")
      .setField(qd.findFieldByName("queryid"), queryid)
      .setField(qd.findFieldByName("from"),
        Proto.newMsg("FromMessage")
          .setField(Proto.msg("FromMessage").findFieldByName("entity"), entity)
          .build())
    nnq.foreach { case (attr, q, dist, k) =>
      val nnqD = Proto.msg("NearestNeighbourQueryMessage")
      b.setField(qd.findFieldByName("nnq"),
        Proto.newMsg("NearestNeighbourQueryMessage")
          .setField(nnqD.findFieldByName("attribute"), attr)
          .setField(nnqD.findFieldByName("query"), vecMsg(q))
          .setField(nnqD.findFieldByName("distance"), dist)
          .setField(nnqD.findFieldByName("k"), Integer.valueOf(k))
          .build())
    }
    if (where.nonEmpty) {
      val wD = Proto.msg("WhereMessage")
      val bqD = Proto.msg("BooleanQueryMessage")
      val bq = Proto.newMsg("BooleanQueryMessage")
      where.foreach { case (attr, op, values) =>
        val w = Proto.newMsg("WhereMessage")
          .setField(wD.findFieldByName("attribute"), attr)
          .setField(wD.findFieldByName("op"), op)
        values.foreach(v => w.addRepeatedField(wD.findFieldByName("values"),
          Proto.dataOf(v)))
        bq.addRepeatedField(bqD.findFieldByName("where"), w.build())
      }
      b.setField(qd.findFieldByName("bq"), bq.build())
    }
    hints.foreach(h => b.addRepeatedField(qd.findFieldByName("hints"), h))
    b.build()
  }

  private def resultRows(res: DynamicMessage): Seq[Map[String, Any]] = {
    val responses = res.getField(
      res.getDescriptorForType.findFieldByName("responses"))
      .asInstanceOf[java.util.List[_]].asScala.map(_.asInstanceOf[DynamicMessage])
    responses.flatMap { info =>
      info.getField(info.getDescriptorForType.findFieldByName("results"))
        .asInstanceOf[java.util.List[_]].asScala
        .map(t => Proto.dataMap(t.asInstanceOf[DynamicMessage],
          "QueryResultTupleMessage"))
    }.toSeq
  }

  test("doQuery: boolean filter, filtered kNN, and index-hinted scan") {
    val d = Proto.msg("CreateEntityMessage")
    call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcq")
        .addRepeatedField(d.findFieldByName("attributes"), attr("label", "string"))
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())
    call(mdDef("Insert", "InsertMessage", "AckMessage"),
      insertMsg("rpcq", (0 until 40).map(i =>
        tuple(if (i % 2 == 0) "even" else "odd", Seq.fill(8)(i.toFloat)))))

    val md = mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage")

    // boolean-only scan
    val boolRes = call(md, queryMsg("rpcq", "b1", None,
      where = Seq(("label", "=", Seq("even")))))
    ackOk(sub(boolRes, "ack")) shouldBe true
    val boolRows = resultRows(boolRes)
    boolRows should have size 20
    boolRows.map(_("label")).toSet shouldBe Set("even")

    // boolean + kNN: nearest EVEN row to [5,...] is i=4 or 6 (tie -> 4 first by distance equal; both dist
    // sqrt(8)); assert all results even and distances sorted
    val fRes = call(md, queryMsg("rpcq", "f1",
      Some(("vec", Seq.fill(8)(5f), "euclidean", 5)),
      where = Seq(("label", "=", Seq("even")))))
    val fRows = resultRows(fRes)
    fRows should have size 5
    fRows.map(_("label")).toSet shouldBe Set("even")
    val fDists = fRows.map(_("distance").asInstanceOf[Double])
    fDists shouldBe fDists.sorted

    // index over the wire, then an index-hinted query
    val idxD = Proto.msg("IndexMessage")
    val idxAck = call(mdDef("Index", "IndexMessage", "AckMessage"),
      Proto.newMsg("IndexMessage")
        .setField(idxD.findFieldByName("entity"), "rpcq")
        .setField(idxD.findFieldByName("attribute"), "vec")
        .setField(idxD.findFieldByName("indextype"), "vaf")
        .build())
    ackOk(idxAck) shouldBe true
    str(idxAck, "message") shouldBe "vaf_vec"

    val iRes = call(md, queryMsg("rpcq", "i1",
      Some(("vec", Seq.fill(8)(7f), "euclidean", 3)), hints = Seq("vaf_vec")))
    ackOk(sub(iRes, "ack")) shouldBe true
    val infos = iRes.getField(
      iRes.getDescriptorForType.findFieldByName("responses"))
      .asInstanceOf[java.util.List[_]].asScala.map(_.asInstanceOf[DynamicMessage])
    str(infos.head, "source") shouldBe "index scan (vaf_vec)"
    val iRows = resultRows(iRes)
    iRows should have size 3
    iRows.head("distance").asInstanceOf[Double] shouldBe 0.0 +- 1e-9 // exact i=7

    // planner hints (type names, not index names) walk to the typed plan
    val hRes = call(md, queryMsg("rpcq", "h1",
      Some(("vec", Seq.fill(8)(7f), "euclidean", 3)), hints = Seq("vaf")))
    ackOk(sub(hRes, "ack")) shouldBe true
    val hInfos = hRes.getField(
      hRes.getDescriptorForType.findFieldByName("responses"))
      .asInstanceOf[java.util.List[_]].asScala.map(_.asInstanceOf[DynamicMessage])
    str(hInfos.head, "source") should startWith("index:vaf")
    val sRes = call(md, queryMsg("rpcq", "h2",
      Some(("vec", Seq.fill(8)(7f), "euclidean", 3)), hints = Seq("sequential")))
    val sInfos = sRes.getField(
      sRes.getDescriptorForType.findFieldByName("responses"))
      .asInstanceOf[java.util.List[_]].asScala.map(_.asInstanceOf[DynamicMessage])
    str(sInfos.head, "source") shouldBe "sequential"

    // index DDL: exists / list / drop
    val ieD = Proto.msg("IndexExistsMessage")
    def idxExists(tp: String) = {
      val r = call(mdDef("ExistsIndex", "IndexExistsMessage", "ExistsMessage"),
        Proto.newMsg("IndexExistsMessage")
          .setField(ieD.findFieldByName("entity"), "rpcq")
          .setField(ieD.findFieldByName("attribute"), "vec")
          .setField(ieD.findFieldByName("indextype"), tp).build())
      r.getField(r.getDescriptorForType.findFieldByName("exists")).asInstanceOf[Boolean]
    }
    idxExists("vaf") shouldBe true
    idxExists("pq") shouldBe false
    val li = call(mdDef("ListIndexes", "EntityNameMessage", "IndexesMessage"),
      entityName("rpcq"))
    li.getField(li.getDescriptorForType.findFieldByName("indexes"))
      .asInstanceOf[java.util.List[_]].asScala.toSeq shouldBe Seq("vaf_vec")
    val inD = Proto.msg("IndexNameMessage")
    ackOk(call(mdDef("DropIndex", "IndexNameMessage", "AckMessage"),
      Proto.newMsg("IndexNameMessage")
        .setField(inD.findFieldByName("index"), "vaf_vec")
        .setField(inD.findFieldByName("entity"), "rpcq").build())) shouldBe true
    idxExists("vaf") shouldBe false

    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"), entityName("rpcq"))
  }

  test("DML over the wire: delete by predicate, vacuum, sparsify, repartition") {
    val d = Proto.msg("CreateEntityMessage")
    call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcdml")
        .addRepeatedField(d.findFieldByName("attributes"), attr("label", "string"))
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())
    call(mdDef("Insert", "InsertMessage", "AckMessage"),
      insertMsg("rpcdml", (0 until 30).map(i =>
        tuple(if (i < 10) "drop_me" else "keep", Seq(i.toFloat, i.toFloat)))))

    // delete by predicate; ack echoes the deleted count
    val dd = Proto.msg("DeleteMessage")
    val wD = Proto.msg("WhereMessage")
    val w = Proto.newMsg("WhereMessage")
      .setField(wD.findFieldByName("attribute"), "label")
      .setField(wD.findFieldByName("op"), "=")
    w.addRepeatedField(wD.findFieldByName("values"), Proto.dataOf("drop_me"))
    val del = call(mdDef("Delete", "DeleteMessage", "AckMessage"),
      Proto.newMsg("DeleteMessage")
        .setField(dd.findFieldByName("entity"), "rpcdml")
        .addRepeatedField(dd.findFieldByName("predicates"), w.build())
        .build())
    ackOk(del) shouldBe true
    str(del, "message") shouldBe "10"
    str(call(mdDef("Count", "EntityNameMessage", "AckMessage"),
      entityName("rpcdml")), "message") shouldBe "20"

    ackOk(call(mdDef("VacuumEntity", "EntityNameMessage", "AckMessage"),
      entityName("rpcdml"))) shouldBe true

    val rp = Proto.msg("RepartitionMessage")
    ackOk(call(mdDef("RepartitionEntityData", "RepartitionMessage", "AckMessage"),
      Proto.newMsg("RepartitionMessage")
        .setField(rp.findFieldByName("entity"), "rpcdml")
        .setField(rp.findFieldByName("numberOfPartitions"), Integer.valueOf(4))
        .addRepeatedField(rp.findFieldByName("attributes"), "label")
        .setField(rp.findFieldByName("partitioner"), "bycolumn")
        .build())) shouldBe true

    // zorder layout over the wire (degenerate two-copies-of-one-column
    // case; the locality property itself is covered in PlannerSpec)
    ackOk(call(mdDef("RepartitionEntityData", "RepartitionMessage", "AckMessage"),
      Proto.newMsg("RepartitionMessage")
        .setField(rp.findFieldByName("entity"), "rpcdml")
        .setField(rp.findFieldByName("numberOfPartitions"), Integer.valueOf(4))
        .addRepeatedField(rp.findFieldByName("attributes"), "ap_id")
        .addRepeatedField(rp.findFieldByName("attributes"), "ap_id")
        .setField(rp.findFieldByName("partitioner"), "zorder")
        .build())) shouldBe true

    val sp = Proto.msg("SparsifyEntityMessage")
    ackOk(call(mdDef("SparsifyEntity", "SparsifyEntityMessage", "AckMessage"),
      Proto.newMsg("SparsifyEntityMessage")
        .setField(sp.findFieldByName("entity"), "rpcdml")
        .setField(sp.findFieldByName("attribute"), "vec")
        .build())) shouldBe true
    str(call(mdDef("Count", "EntityNameMessage", "AckMessage"),
      entityName("rpcdml")), "message") shouldBe "20"

    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"), entityName("rpcdml"))
  }

  test("entity/index properties and random-data generation over the wire") {
    val d = Proto.msg("CreateEntityMessage")
    call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcprops")
        .addRepeatedField(d.findFieldByName("attributes"), attr("label", "string"))
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())
    val gd = Proto.msg("GenerateRandomDataMessage")
    val gen = call(mdDef("GenerateRandomData", "GenerateRandomDataMessage", "AckMessage"),
      Proto.newMsg("GenerateRandomDataMessage")
        .setField(gd.findFieldByName("entity"), "rpcprops")
        .setField(gd.findFieldByName("ntuples"), java.lang.Long.valueOf(25L))
        .setField(gd.findFieldByName("dims"), Integer.valueOf(8))
        .build())
    ackOk(gen) shouldBe true

    val props = call(mdDef("GetEntityProperties", "EntityPropertiesMessage",
      "PropertiesMessage"),
      Proto.newMsg("EntityPropertiesMessage")
        .setField(Proto.msg("EntityPropertiesMessage").findFieldByName("entity"),
          "rpcprops").build())
    ackOk(sub(props, "ack")) shouldBe true
    val pd = Proto.msg("PropertiesMessage")
    val entryD = pd.findNestedTypeByName("PropertiesEntry")
    val kv = props.getField(pd.findFieldByName("properties"))
      .asInstanceOf[java.util.List[_]].asScala.map { e =>
        val em = e.asInstanceOf[DynamicMessage]
        em.getField(entryD.findFieldByName("key")).asInstanceOf[String] ->
          em.getField(entryD.findFieldByName("value")).asInstanceOf[String]
      }.toMap
    kv("count") shouldBe "25"
    kv("schema") shouldBe "label:string,vec:vector"

    // per-attribute properties: type + serving handler (primary parquet
    // here; a grouped attribute would report its group's handler)
    def attrProps(attribute: String): Map[String, String] = {
      val apD = Proto.msg("AttributePropertiesMessage")
      val r = call(mdDef("GetAttributeProperties", "AttributePropertiesMessage",
        "PropertiesMessage"),
        Proto.newMsg("AttributePropertiesMessage")
          .setField(apD.findFieldByName("entity"), "rpcprops")
          .setField(apD.findFieldByName("attribute"), attribute).build())
      ackOk(sub(r, "ack")) shouldBe true
      r.getField(pd.findFieldByName("properties"))
        .asInstanceOf[java.util.List[_]].asScala.map { e =>
          val em = e.asInstanceOf[DynamicMessage]
          em.getField(entryD.findFieldByName("key")).asInstanceOf[String] ->
            em.getField(entryD.findFieldByName("value")).asInstanceOf[String]
        }.toMap
    }
    attrProps("vec") shouldBe Map(
      "type" -> "vector", "handler" -> "parquet", "store" -> "", "indexes" -> "",
      "param_format" -> "parquet")
    attrProps("label")("type") shouldBe "string"
    // a missing attribute is an error ack, not a crash
    val apD = Proto.msg("AttributePropertiesMessage")
    val bad = call(mdDef("GetAttributeProperties", "AttributePropertiesMessage",
      "PropertiesMessage"),
      Proto.newMsg("AttributePropertiesMessage")
        .setField(apD.findFieldByName("entity"), "rpcprops")
        .setField(apD.findFieldByName("attribute"), "nope").build())
    ackOk(sub(bad, "ack")) shouldBe false

    // vectors are real 8-dim arrays: a kNN over them works
    val qRes = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      queryMsg("rpcprops", "p1", Some(("vec", Seq.fill(8)(0.5f), "euclidean", 3))))
    resultRows(qRes) should have size 3

    // projection wrapper (reference prepareProjectionExpression): an
    // attribute subset over a kNN result, and count over the whole entity
    def withProjection(base: DynamicMessage, op: String,
                       attrs: Seq[String]): DynamicMessage = {
      val qd = Proto.msg("QueryMessage")
      val pjD = Proto.msg("ProjectionMessage")
      val pm = Proto.newMsg("ProjectionMessage")
        .setField(pjD.findFieldByName("op"), op)
      attrs.foreach(a => pm.addRepeatedField(pjD.findFieldByName("attribute"), a))
      DynamicMessage.newBuilder(base)
        .setField(qd.findFieldByName("projection"), pm.build()).build()
    }
    val subset = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      withProjection(
        queryMsg("rpcprops", "", Some(("vec", Seq.fill(8)(0.5f), "euclidean", 3))),
        "", Seq("label")))
    resultRows(subset) should have size 3
    resultRows(subset).head.keySet shouldBe Set("label")
    val cnt = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      withProjection(queryMsg("rpcprops", "", None), "count", Nil))
    ackOk(sub(cnt, "ack")) shouldBe true
    resultRows(cnt).head("n") shouldBe 25L
    val ex = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      withProjection(queryMsg("rpcprops", "", None), "exists", Nil))
    resultRows(ex).head("exists") shouldBe true
    val dist = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      withProjection(queryMsg("rpcprops", "", None), "distinct", Seq("label")))
    resultRows(dist).size should be >= 1
    // unknown op is an error ack, not a crash
    ackOk(sub(call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      withProjection(queryMsg("rpcprops", "", None), "median", Nil)),
      "ack")) shouldBe false

    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"), entityName("rpcprops"))
  }

  test("GenerateAllIndexes builds the full 13-type family (reference 8 + ivfpq/sq/bsq/opq/nsw)") {
    val d = Proto.msg("CreateEntityMessage")
    ackOk(call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcall")
        .addRepeatedField(d.findFieldByName("attributes"), attr("label", "string"))
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())) shouldBe true
    val rnd = new scala.util.Random(7)
    ackOk(call(mdDef("Insert", "InsertMessage", "AckMessage"),
      insertMsg("rpcall", (0 until 60).map(i =>
        tuple(s"t$i", Seq.fill(8)(rnd.nextFloat())))))) shouldBe true

    val idxD = Proto.msg("IndexMessage")
    val gen = call(mdDef("GenerateAllIndexes", "IndexMessage", "IndexesMessage"),
      Proto.newMsg("IndexMessage")
        .setField(idxD.findFieldByName("entity"), "rpcall")
        .setField(idxD.findFieldByName("attribute"), "vec").build())
    ackOk(sub(gen, "ack")) shouldBe true
    val built = gen.getField(gen.getDescriptorForType.findFieldByName("indexes"))
      .asInstanceOf[java.util.List[_]].asScala.map(_.toString).toSet
    built shouldBe graft.api.IndexOps.knownTypes.map(tp => s"${tp}_vec").toSet
    built should have size 13

    val li = call(mdDef("ListIndexes", "EntityNameMessage", "IndexesMessage"),
      entityName("rpcall"))
    li.getField(li.getDescriptorForType.findFieldByName("indexes"))
      .asInstanceOf[java.util.List[_]].asScala.map(_.toString).toSet shouldBe built
    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"), entityName("rpcall"))
  }

  test("projection page cap over >500 rows returns a deterministic ordered page") {
    val d = Proto.msg("CreateEntityMessage")
    ackOk(call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcpage")
        .addRepeatedField(d.findFieldByName("attributes"), attr("x", "int"))
        .build())) shouldBe true
    val tD = Proto.msg("TupleInsertMessage")
    ackOk(call(mdDef("Insert", "InsertMessage", "AckMessage"),
      insertMsg("rpcpage", (0 until 600).map { i =>
        Proto.newMsg("TupleInsertMessage")
          .addRepeatedField(tD.findFieldByName("data"),
            Proto.dataEntry("TupleInsertMessage", "x", Proto.dataOf(i)))
          .build()
      }))) shouldBe true

    def page(op: String): Seq[Any] = {
      val qd = Proto.msg("QueryMessage")
      val pjD = Proto.msg("ProjectionMessage")
      val pm = Proto.newMsg("ProjectionMessage")
        .setField(pjD.findFieldByName("op"), op)
      pm.addRepeatedField(pjD.findFieldByName("attribute"), "x")
      val res = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
        DynamicMessage.newBuilder(queryMsg("rpcpage", "", None))
          .setField(qd.findFieldByName("projection"), pm.build()).build())
      ackOk(sub(res, "ack")) shouldBe true
      resultRows(res).map(_("x"))
    }
    // 600 rows > the 500-row page: the cap must be ORDERED — a bare
    // .limit(500) returns a partitioning-dependent subset (the defect
    // the compound-expression path fixed in r11, now fixed here too)
    Seq("", "distinct").foreach { op =>
      withClue(s"op='$op': ") {
        val first = page(op)
        first should have size 500
        first shouldBe (0 until 500).map(Integer.valueOf)
        page(op) shouldBe first // stable across runs
      }
    }
    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"), entityName("rpcpage"))
  }

  test("weighted and partition-restricted kNN over the wire") {
    val d = Proto.msg("CreateEntityMessage")
    call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcwp")
        .addRepeatedField(d.findFieldByName("attributes"), attr("grp", "int"))
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())
    val tD = Proto.msg("TupleInsertMessage")
    // vec = [i, 100-i, 0, 0]: unweighted manhattan distance to the origin
    // is the constant 100, so only a [1,0,0,0] weighting makes i rank
    call(mdDef("Insert", "InsertMessage", "AckMessage"),
      insertMsg("rpcwp", (0 until 30).map { i =>
        Proto.newMsg("TupleInsertMessage")
          .addRepeatedField(tD.findFieldByName("data"),
            Proto.dataEntry("TupleInsertMessage", "grp", Proto.dataOf(i % 3)))
          .addRepeatedField(tD.findFieldByName("data"),
            Proto.dataEntry("TupleInsertMessage", "vec",
              Proto.dataOf(Seq(i.toFloat, 100f - i, 0f, 0f))))
          .build()
      }))

    def nnqWith(weights: Option[Seq[Float]], parts: Seq[Int], k: Int): DynamicMessage = {
      val nnqD = Proto.msg("NearestNeighbourQueryMessage")
      val b = Proto.newMsg("NearestNeighbourQueryMessage")
        .setField(nnqD.findFieldByName("attribute"), "vec")
        .setField(nnqD.findFieldByName("query"), vecMsg(Seq(0f, 0f, 0f, 0f)))
        .setField(nnqD.findFieldByName("distance"), "manhattan")
        .setField(nnqD.findFieldByName("k"), Integer.valueOf(k))
      weights.foreach(w => b.setField(nnqD.findFieldByName("weights"), vecMsg(w)))
      parts.foreach(p => b.addRepeatedField(nnqD.findFieldByName("partitions"),
        Integer.valueOf(p)))
      val qd = Proto.msg("QueryMessage")
      Proto.newMsg("QueryMessage")
        .setField(qd.findFieldByName("from"),
          Proto.newMsg("FromMessage")
            .setField(Proto.msg("FromMessage").findFieldByName("entity"), "rpcwp")
            .build())
        .setField(qd.findFieldByName("nnq"), b.build()).build()
    }

    // sparse / int query vectors densify server-side (reference
    // prepareVector oneof): same top-k as the dense origin query
    def vecVariant(kind: String): DynamicMessage = {
      val b = Proto.newMsg("VectorMessage")
      val vD = Proto.msg("VectorMessage")
      kind match {
        case "sparse" =>
          val sD = Proto.msg("SparseVectorMessage")
          b.setField(vD.findFieldByName("sparseVector"),
            Proto.newMsg("SparseVectorMessage")
              .setField(sD.findFieldByName("length"), Integer.valueOf(4)).build())
        case "int" =>
          val iD = Proto.msg("IntVectorMessage")
          val iv = Proto.newMsg("IntVectorMessage")
          (0 until 4).foreach(_ => iv.addRepeatedField(
            iD.findFieldByName("vector"), Integer.valueOf(0)))
          b.setField(vD.findFieldByName("intVector"), iv.build())
      }
      b.build()
    }
    Seq("sparse", "int").foreach { kind =>
      val nnqD = Proto.msg("NearestNeighbourQueryMessage")
      val qd = Proto.msg("QueryMessage")
      val res = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
        Proto.newMsg("QueryMessage")
          .setField(qd.findFieldByName("from"),
            Proto.newMsg("FromMessage")
              .setField(Proto.msg("FromMessage").findFieldByName("entity"), "rpcwp")
              .build())
          .setField(qd.findFieldByName("nnq"),
            Proto.newMsg("NearestNeighbourQueryMessage")
              .setField(nnqD.findFieldByName("attribute"), "vec")
              .setField(nnqD.findFieldByName("query"), vecVariant(kind))
              .setField(nnqD.findFieldByName("distance"), "euclidean")
              .setField(nnqD.findFieldByName("k"), Integer.valueOf(2)).build())
          .build())
      withClue(s"$kind query vector: ") {
        ackOk(sub(res, "ack")) shouldBe true
        resultRows(res) should have size 2
      }
    }

    // a manhattan-conforming index exists on the entity BEFORE the
    // weighted query: the planner must still serve weights from the
    // sequential plan — VA candidate pruning uses the UNWEIGHTED metric,
    // under which every row here is equidistant (constant 100), so an
    // index plan could prune the true weighted top-k arbitrarily (the
    // previously-masked silent-wrong-answer case)
    val wIdxD = Proto.msg("IndexMessage")
    ackOk(call(mdDef("Index", "IndexMessage", "AckMessage"),
      Proto.newMsg("IndexMessage")
        .setField(wIdxD.findFieldByName("entity"), "rpcwp")
        .setField(wIdxD.findFieldByName("attribute"), "vec")
        .setField(wIdxD.findFieldByName("indextype"), "vaf").build())) shouldBe true

    // weighted: only dim 0 counts, so the top row is i=0 at distance 0
    val wRes = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      nnqWith(Some(Seq(1f, 0f, 0f, 0f)), Nil, 3))
    ackOk(sub(wRes, "ack")) shouldBe true
    val wRows = resultRows(wRes)
    wRows should have size 3
    wRows.head("vec").asInstanceOf[Seq[_]].head shouldBe 0.0f
    // the full weighted top-3 is exact: i = 0, 1, 2 by dim-0 value
    wRows.map(_("vec").asInstanceOf[Seq[_]].head) shouldBe Seq(0.0f, 1.0f, 2.0f)

    // partition restriction needs a layout: refused without one...
    ackOk(sub(call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      nnqWith(None, Seq(1), 30)), "ack")) shouldBe false
    // ...and honored with a bycolumn layout on grp
    val rpD = Proto.msg("RepartitionMessage")
    ackOk(call(mdDef("RepartitionEntityData", "RepartitionMessage", "AckMessage"),
      Proto.newMsg("RepartitionMessage")
        .setField(rpD.findFieldByName("entity"), "rpcwp")
        .addRepeatedField(rpD.findFieldByName("attributes"), "grp")
        .setField(rpD.findFieldByName("partitioner"), "bycolumn").build())) shouldBe true
    val pRes = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      nnqWith(None, Seq(1), 30))
    ackOk(sub(pRes, "ack")) shouldBe true
    val pRows = resultRows(pRes)
    pRows should have size 10 // only grp=1 rows survive the restriction
    pRows.map(_("grp")).toSet shouldBe Set(1)

    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"), entityName("rpcwp"))
  }

  test("compound FROM expression: set algebra over subqueries on the wire") {
    val d = Proto.msg("CreateEntityMessage")
    call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcexp")
        .addRepeatedField(d.findFieldByName("attributes"), attr("label", "string"))
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())
    call(mdDef("Insert", "InsertMessage", "AckMessage"),
      insertMsg("rpcexp", (0 until 30).map(i =>
        tuple(if (i % 2 == 0) "even" else "odd", Seq.fill(4)(i.toFloat)))))

    val fmD = Proto.msg("FromMessage")
    val emD = Proto.msg("ExpressionQueryMessage")
    val qd = Proto.msg("QueryMessage")
    def exprQuery(op: String, l: DynamicMessage, r: DynamicMessage): DynamicMessage =
      Proto.newMsg("QueryMessage")
        .setField(qd.findFieldByName("from"),
          Proto.newMsg("FromMessage")
            .setField(fmD.findFieldByName("expression"),
              Proto.newMsg("ExpressionQueryMessage")
                .setField(emD.findFieldByName("operation"), op)
                .setField(emD.findFieldByName("left"), l)
                .setField(emD.findFieldByName("right"), r).build())
            .build())
        .build()
    val evens = queryMsg("rpcexp", "", None, where = Seq(("label", "=", Seq("even"))))
    val odds = queryMsg("rpcexp", "", None, where = Seq(("label", "=", Seq("odd"))))

    def rowsOf(op: String, l: DynamicMessage, r: DynamicMessage) = {
      val res = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
        exprQuery(op, l, r))
      ackOk(sub(res, "ack")) shouldBe true
      resultRows(res)
    }
    rowsOf("union", evens, odds) should have size 30     // bag union 15+15
    rowsOf("intersect", evens, odds) shouldBe empty       // disjoint
    rowsOf("except", evens, odds) should have size 15     // evens alone
    // fuzzy merge over two kNN subqueries: same query both sides — the
    // merged id set is the shared top-5 with min/max-merged distances
    val knn = queryMsg("rpcexp", "", Some(("vec", Seq.fill(4)(0f), "manhattan", 5)))
    rowsOf("fuzzyintersect", knn, knn) should have size 5
    // unknown op is an error ack
    ackOk(sub(call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      exprQuery("xor", evens, odds)), "ack")) shouldBe false

    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"), entityName("rpcexp"))
  }

  test("planner training and scored paths over the wire") {
    val d = Proto.msg("CreateEntityMessage")
    call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcplan")
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())
    val gd = Proto.msg("GenerateRandomDataMessage")
    call(mdDef("GenerateRandomData", "GenerateRandomDataMessage", "AckMessage"),
      Proto.newMsg("GenerateRandomDataMessage")
        .setField(gd.findFieldByName("entity"), "rpcplan")
        .setField(gd.findFieldByName("ntuples"), java.lang.Long.valueOf(200L))
        .setField(gd.findFieldByName("dims"), Integer.valueOf(8)).build())
    val idxD = Proto.msg("IndexMessage")
    Seq("vaf", "ecp").foreach { tp =>
      ackOk(call(mdDef("Index", "IndexMessage", "AckMessage"),
        Proto.newMsg("IndexMessage")
          .setField(idxD.findFieldByName("entity"), "rpcplan")
          .setField(idxD.findFieldByName("attribute"), "vec")
          .setField(idxD.findFieldByName("indextype"), tp).build())) shouldBe true
    }

    val asD = Proto.msg("AdaptScanMethodsMessage")
    val trained = call(mdDef("AdaptScanMethods", "AdaptScanMethodsMessage", "AckMessage"),
      Proto.newMsg("AdaptScanMethodsMessage")
        .setField(asD.findFieldByName("entity"), "rpcplan")
        .setField(asD.findFieldByName("attribute"), "vec").build())
    ackOk(trained) shouldBe true
    str(trained, "message").toInt should be > 0

    val spD = Proto.msg("ScoredExecutionPathsRequest")
    val paths = call(mdDef("GetScoredExecutionPath", "ScoredExecutionPathsRequest",
      "ScoredExecutionPathsMessage"),
      Proto.newMsg("ScoredExecutionPathsRequest")
        .setField(spD.findFieldByName("entity"), "rpcplan")
        .setField(spD.findFieldByName("distance"), "euclidean").build())
    ackOk(sub(paths, "ack")) shouldBe true
    val pathD = Proto.msg("ScoredExecutionPathMessage")
    val scans = paths.getField(
      paths.getDescriptorForType.findFieldByName("paths"))
      .asInstanceOf[java.util.List[_]].asScala.map { p =>
        val pm = p.asInstanceOf[DynamicMessage]
        pm.getField(pathD.findFieldByName("scan")).asInstanceOf[String]
      }.toSeq
    scans should contain("sequential")
    scans.exists(_.startsWith("index:")) shouldBe true
    // the dedup scan methods ride the same introspection RPC
    scans should contain allOf ("dedup:cosine_exact", "dedup:cosine_banded",
      "dedup:cosine_semantic")

    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"), entityName("rpcplan"))
  }

  test("doStreamingQuery: one result set per query over a bidi stream") {
    val d = Proto.msg("CreateEntityMessage")
    call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcsq")
        .addRepeatedField(d.findFieldByName("attributes"), attr("label", "string"))
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())
    call(mdDef("Insert", "InsertMessage", "AckMessage"),
      insertMsg("rpcsq", (0 until 10).map(i => tuple(s"s$i", Seq(i.toFloat, i.toFloat)))))

    val md = server.clientMethod("AdamSearch", "DoStreamingQuery",
      "QueryMessage", "QueryResultsMessage", MethodDescriptor.MethodType.BIDI_STREAMING)
    val results = scala.collection.mutable.ArrayBuffer.empty[DynamicMessage]
    val done = new CountDownLatch(1)
    val reqObs = ClientCalls.asyncBidiStreamingCall(
      channel.newCall(md, CallOptions.DEFAULT),
      new StreamObserver[DynamicMessage] {
        override def onNext(m: DynamicMessage): Unit =
          results.synchronized { results += m }
        override def onError(t: Throwable): Unit = done.countDown()
        override def onCompleted(): Unit = done.countDown()
      })
    reqObs.onNext(queryMsg("rpcsq", "s1", Some(("vec", Seq(2f, 2f), "euclidean", 1))))
    reqObs.onNext(queryMsg("rpcsq", "s2", Some(("vec", Seq(9f, 9f), "euclidean", 1))))
    reqObs.onCompleted()
    done.await(60, TimeUnit.SECONDS) shouldBe true
    results should have size 2
    resultRows(results.head).head("label") shouldBe "s2"
    resultRows(results(1)).head("label") shouldBe "s9"
    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"), entityName("rpcsq"))
  }

  test("proto export/import round-trips an entity through delimited frames") {
    val d = Proto.msg("CreateEntityMessage")
    call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcexp")
        .addRepeatedField(d.findFieldByName("attributes"), attr("label", "string"))
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())
    call(mdDef("Insert", "InsertMessage", "AckMessage"),
      insertMsg("rpcexp", (0 until 10).map(i => tuple(s"e$i", Seq(i.toFloat, 2f * i)))))

    val expDir = SharedSpark.tempDir("graft-protoexp").toString
    val pe = Proto.msg("ProtoExportMessage")
    val exported = call(mdDef("ProtoExportData", "ProtoExportMessage", "AckMessage"),
      Proto.newMsg("ProtoExportMessage")
        .setField(pe.findFieldByName("path"), expDir)
        .setField(pe.findFieldByName("entity"), "rpcexp").build())
    ackOk(exported) shouldBe true

    // drop, then re-import over the server-streaming call
    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"), entityName("rpcexp"))
    val im = server.clientMethod("AdamDefinition", "ProtoImportData",
      "ProtoImportMessage", "AckMessage", MethodDescriptor.MethodType.SERVER_STREAMING)
    val acks = ClientCalls.blockingServerStreamingCall(channel, im, CallOptions.DEFAULT,
      Proto.newMsg("ProtoImportMessage")
        .setField(Proto.msg("ProtoImportMessage").findFieldByName("path"), expDir)
        .build()).asScala.toSeq
    acks.map(ackOk) shouldBe Seq(true)
    str(acks.head, "message") shouldBe "rpcexp"

    // contents round-tripped exactly
    str(call(mdDef("Count", "EntityNameMessage", "AckMessage"),
      entityName("rpcexp")), "message") shouldBe "10"
    val back = graft.core.Entity.open(spark, base, "rpcexp").read()
    back.columns.toSet shouldBe Set("label", "vec", "ap_id")
    import org.apache.spark.sql.functions.col
    val labels = back.select("label").collect().map(_.getString(0)).toSet
    labels shouldBe (0 until 10).map(i => s"e$i").toSet
    back.filter(col("label") === "e3").select("vec")
      .head().getSeq[Float](0) shouldBe Seq(3f, 6f)
    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"), entityName("rpcexp"))
  }

  test("catalog RPCs: attribute types and storage handlers") {
    val at = call(mdDef("AvailableAttributeTypes", "EmptyMessage",
      "AvailableAttributeTypesMessage"), Proto.newMsg("EmptyMessage").build())
    ackOk(sub(at, "ack")) shouldBe true
    at.getField(at.getDescriptorForType.findFieldByName("attributetypes"))
      .asInstanceOf[java.util.List[_]].asScala.map(_.toString) should
      contain allOf ("string", "vector", "long")
    val sh = call(mdDef("ListStorageHandlers", "EmptyMessage",
      "StorageHandlersMessage"), Proto.newMsg("EmptyMessage").build())
    sh.getField(sh.getDescriptorForType.findFieldByName("handlers"))
      .asInstanceOf[java.util.List[_]].asScala.map(_.toString) should
      contain allOf ("parquet", "orc", "keyvalue")
  }

  private def infos(res: DynamicMessage): Seq[DynamicMessage] =
    res.getField(res.getDescriptorForType.findFieldByName("responses"))
      .asInstanceOf[java.util.List[_]].asScala
      .map(_.asInstanceOf[DynamicMessage]).toSeq

  test("progressive and parallel queries stream per-plan observations") {
    val d = Proto.msg("CreateEntityMessage")
    call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcprog")
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())
    val gd = Proto.msg("GenerateRandomDataMessage")
    call(mdDef("GenerateRandomData", "GenerateRandomDataMessage", "AckMessage"),
      Proto.newMsg("GenerateRandomDataMessage")
        .setField(gd.findFieldByName("entity"), "rpcprog")
        .setField(gd.findFieldByName("ntuples"), java.lang.Long.valueOf(200L))
        .setField(gd.findFieldByName("dims"), Integer.valueOf(8)).build())
    val idxD = Proto.msg("IndexMessage")
    Seq("vaf", "ecp").foreach { tp =>
      ackOk(call(mdDef("Index", "IndexMessage", "AckMessage"),
        Proto.newMsg("IndexMessage")
          .setField(idxD.findFieldByName("entity"), "rpcprog")
          .setField(idxD.findFieldByName("attribute"), "vec")
          .setField(idxD.findFieldByName("indextype"), tp).build())) shouldBe true
    }

    val mdProg = server.clientMethod("AdamSearch", "DoProgressiveQuery",
      "QueryMessage", "QueryResultsMessage",
      MethodDescriptor.MethodType.SERVER_STREAMING)
    val obs = ClientCalls.blockingServerStreamingCall(channel, mdProg,
      CallOptions.DEFAULT,
      queryMsg("rpcprog", "prog1", Some(("vec", Seq.fill(8)(0.5f), "euclidean", 3))))
      .asScala.toSeq
    obs.size should be >= 3 // sequential + vaf + ecp all race
    obs.foreach(o => ackOk(sub(o, "ack")) shouldBe true)
    val infoD = Proto.msg("QueryResultInfoMessage")
    val byShape = obs.flatMap(infos).map { i =>
      (str(i, "source"),
        i.getField(infoD.findFieldByName("confidence")).asInstanceOf[Double],
        i.getField(infoD.findFieldByName("time")).asInstanceOf[Long])
    }
    byShape.map(_._1) should contain("sequential")
    byShape.map(_._1).exists(_.startsWith("index:")) shouldBe true
    byShape.find(_._1 == "sequential").get._2 shouldBe 1.0 // exact plan
    obs.foreach(o => resultRows(o) should have size 3)

    // parallel query: the hint set restricts the racing plans
    val mdPar = server.clientMethod("AdamSearch", "DoParallelQuery",
      "QueryMessage", "QueryResultsMessage",
      MethodDescriptor.MethodType.SERVER_STREAMING)
    val seqOnly = ClientCalls.blockingServerStreamingCall(channel, mdPar,
      CallOptions.DEFAULT,
      queryMsg("rpcprog", "par1", Some(("vec", Seq.fill(8)(0.5f), "euclidean", 3)),
        hints = Seq("sequential"))).asScala.toSeq
    seqOnly should have size 1
    str(infos(seqOnly.head).head, "source") shouldBe "sequential"

    // a progressive query without nnq is refused on the stream
    val bad = ClientCalls.blockingServerStreamingCall(channel, mdProg,
      CallOptions.DEFAULT, queryMsg("rpcprog", "progbad", None)).asScala.toSeq
    bad should have size 1
    ackOk(sub(bad.head, "ack")) shouldBe false

    // timed query through DoQuery (QueryMessage.time): the single
    // best-confidence result available at the deadline
    val qmD = Proto.msg("QueryMessage")
    val timedReq = DynamicMessage.newBuilder(
      queryMsg("rpcprog", "timed1", Some(("vec", Seq.fill(8)(0.5f), "euclidean", 3))))
      .setField(qmD.findFieldByName("time"), java.lang.Long.valueOf(60000L))
      .build()
    val tRes = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"), timedReq)
    ackOk(sub(tRes, "ack")) shouldBe true
    val tInfo = infos(tRes).head
    // sequential and vaf are both exact — whichever finished faster wins
    str(tInfo, "source") should (equal("sequential") or startWith("index:"))
    tInfo.getField(infoD.findFieldByName("confidence"))
      .asInstanceOf[Double] shouldBe 1.0
    resultRows(tRes) should have size 3

    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"),
      entityName("rpcprog"))
  }

  test("batch query runs every slot; per-query errors stay in their slot") {
    val d = Proto.msg("CreateEntityMessage")
    call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcbatch")
        .addRepeatedField(d.findFieldByName("attributes"), attr("label", "string"))
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())
    call(mdDef("Insert", "InsertMessage", "AckMessage"),
      insertMsg("rpcbatch", (0 until 10).map(i =>
        tuple(s"b$i", Seq(i.toFloat, i.toFloat)))))

    val bqD = Proto.msg("BatchedQueryMessage")
    val req = Proto.newMsg("BatchedQueryMessage")
    Seq(
      queryMsg("rpcbatch", "bq1", Some(("vec", Seq(2f, 2f), "euclidean", 1))),
      queryMsg("no_such_entity", "bq2", Some(("vec", Seq(0f, 0f), "euclidean", 1))),
      queryMsg("rpcbatch", "bq3", Some(("vec", Seq(9f, 9f), "euclidean", 1)))
    ).foreach(q => req.addRepeatedField(bqD.findFieldByName("queries"), q))
    val res = call(mdSearch("DoBatchQuery", "BatchedQueryMessage",
      "BatchedQueryResultsMessage"), req.build())
    val slots = res.getField(
      res.getDescriptorForType.findFieldByName("results"))
      .asInstanceOf[java.util.List[_]].asScala
      .map(_.asInstanceOf[DynamicMessage]).toSeq
    slots should have size 3
    ackOk(sub(slots(0), "ack")) shouldBe true
    resultRows(slots(0)).head("label") shouldBe "b2"
    ackOk(sub(slots(1), "ack")) shouldBe false // bad slot errs alone
    ackOk(sub(slots(2), "ack")) shouldBe true
    resultRows(slots(2)).head("label") shouldBe "b9"

    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"),
      entityName("rpcbatch"))
  }

  test("ping, result cache by queryid, entity/index cache, and stop RPCs") {
    ackOk(call(mdSearch("Ping", "EmptyMessage", "AckMessage"),
      Proto.newMsg("EmptyMessage").build())) shouldBe true

    val d = Proto.msg("CreateEntityMessage")
    call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpccache")
        .addRepeatedField(d.findFieldByName("attributes"), attr("label", "string"))
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())
    call(mdDef("Insert", "InsertMessage", "AckMessage"),
      insertMsg("rpccache", (0 until 12).map(i =>
        tuple(s"c$i", Seq(i.toFloat, i.toFloat)))))

    // a completed DoQuery is replayable from the result cache, verbatim
    val live = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      queryMsg("rpccache", "cq1", Some(("vec", Seq(4f, 4f), "euclidean", 2))))
    ackOk(sub(live, "ack")) shouldBe true
    val crD = Proto.msg("CachedResultsMessage")
    val cached = call(mdSearch("GetCachedResults", "CachedResultsMessage",
      "QueryResultsMessage"),
      Proto.newMsg("CachedResultsMessage")
        .setField(crD.findFieldByName("queryid"), "cq1").build())
    ackOk(sub(cached, "ack")) shouldBe true
    resultRows(cached) shouldBe resultRows(live)
    val miss = call(mdSearch("GetCachedResults", "CachedResultsMessage",
      "QueryResultsMessage"),
      Proto.newMsg("CachedResultsMessage")
        .setField(crD.findFieldByName("queryid"), "nope").build())
    ackOk(sub(miss, "ack")) shouldBe false

    // entity + index cache pins
    ackOk(call(mdSearch("CacheEntity", "EntityNameMessage", "AckMessage"),
      entityName("rpccache"))) shouldBe true
    val idxD = Proto.msg("IndexMessage")
    call(mdDef("Index", "IndexMessage", "AckMessage"),
      Proto.newMsg("IndexMessage")
        .setField(idxD.findFieldByName("entity"), "rpccache")
        .setField(idxD.findFieldByName("attribute"), "vec")
        .setField(idxD.findFieldByName("indextype"), "vaf").build())
    val inD = Proto.msg("IndexNameMessage")
    val cacheIdx = call(mdSearch("CacheIndex", "IndexNameMessage", "AckMessage"),
      Proto.newMsg("IndexNameMessage")
        .setField(inD.findFieldByName("index"), "vaf_vec")
        .setField(inD.findFieldByName("entity"), "rpccache").build())
    ackOk(cacheIdx) shouldBe true
    str(cacheIdx, "message") shouldBe "rpccache" // reference echoes entityname
    ackOk(call(mdSearch("CacheIndex", "IndexNameMessage", "AckMessage"),
      Proto.newMsg("IndexNameMessage")
        .setField(inD.findFieldByName("index"), "ghost")
        .setField(inD.findFieldByName("entity"), "rpccache").build())) shouldBe false

    // stop RPCs: harmless for unknown ids, and a progressive query issued
    // with a queryid survives a concurrent stop (stream still terminates,
    // each observation either completes or reports the cancellation)
    val sqD = Proto.msg("StopQueryMessage")
    ackOk(call(mdSearch("StopQuery", "StopQueryMessage", "AckMessage"),
      Proto.newMsg("StopQueryMessage")
        .setField(sqD.findFieldByName("queryid"), "ghost-query").build())) shouldBe true
    val mdProg = server.clientMethod("AdamSearch", "DoProgressiveQuery",
      "QueryMessage", "QueryResultsMessage",
      MethodDescriptor.MethodType.SERVER_STREAMING)
    val got = new CountDownLatch(1)
    val doneStream = new CountDownLatch(1)
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    ClientCalls.asyncServerStreamingCall(
      channel.newCall(mdProg, CallOptions.DEFAULT),
      queryMsg("rpccache", "stopme", Some(("vec", Seq(1f, 1f), "euclidean", 2))),
      new StreamObserver[DynamicMessage] {
        override def onNext(m: DynamicMessage): Unit = {
          seen.incrementAndGet(); got.countDown()
        }
        override def onError(t: Throwable): Unit = doneStream.countDown()
        override def onCompleted(): Unit = doneStream.countDown()
      })
    got.await(60, TimeUnit.SECONDS) shouldBe true
    ackOk(call(mdSearch("StopQuery", "StopQueryMessage", "AckMessage"),
      Proto.newMsg("StopQueryMessage")
        .setField(sqD.findFieldByName("queryid"), "stopme").build())) shouldBe true
    doneStream.await(60, TimeUnit.SECONDS) shouldBe true
    seen.get() should be >= 1
    ackOk(call(mdSearch("StopAllQueries", "EmptyMessage", "AckMessage"),
      Proto.newMsg("EmptyMessage").build())) shouldBe true

    // dropping the entity releases its pinned entity+index cache frames
    ackOk(call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"),
      entityName("rpccache"))) shouldBe true
  }

  test("index repartition and attribute transfer between storage handlers") {
    val d = Proto.msg("CreateEntityMessage")
    call(mdDef("CreateEntity", "CreateEntityMessage", "AckMessage"),
      Proto.newMsg("CreateEntityMessage")
        .setField(d.findFieldByName("entity"), "rpcxfer")
        .addRepeatedField(d.findFieldByName("attributes"), attr("label", "string"))
        .addRepeatedField(d.findFieldByName("attributes"), attr("vec", "vector"))
        .build())
    call(mdDef("Insert", "InsertMessage", "AckMessage"),
      insertMsg("rpcxfer", (0 until 30).map(i =>
        tuple(s"x$i", Seq.fill(4)(i.toFloat)))))
    val idxD = Proto.msg("IndexMessage")
    call(mdDef("Index", "IndexMessage", "AckMessage"),
      Proto.newMsg("IndexMessage")
        .setField(idxD.findFieldByName("entity"), "rpcxfer")
        .setField(idxD.findFieldByName("attribute"), "vec")
        .setField(idxD.findFieldByName("indextype"), "vaf").build())

    // repartition the index's narrow table; the hinted scan still serves
    val rpD = Proto.msg("RepartitionMessage")
    val rp = call(mdDef("RepartitionIndexData", "RepartitionMessage", "AckMessage"),
      Proto.newMsg("RepartitionMessage")
        .setField(rpD.findFieldByName("entity"), "rpcxfer")
        .setField(rpD.findFieldByName("index"), "vaf_vec")
        .setField(rpD.findFieldByName("numberOfPartitions"), Integer.valueOf(4))
        .setField(rpD.findFieldByName("partitioner"), "hash").build())
    ackOk(rp) shouldBe true
    str(rp, "message") shouldBe "vaf_vec"
    val iRes = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      queryMsg("rpcxfer", "xf1", Some(("vec", Seq.fill(4)(7f), "euclidean", 3)),
        hints = Seq("vaf_vec")))
    ackOk(sub(iRes, "ack")) shouldBe true
    resultRows(iRes).head("label") shouldBe "x7"
    // ecp/bycolumn are entity-level layouts — refused for an index table
    ackOk(call(mdDef("RepartitionIndexData", "RepartitionMessage", "AckMessage"),
      Proto.newMsg("RepartitionMessage")
        .setField(rpD.findFieldByName("entity"), "rpcxfer")
        .setField(rpD.findFieldByName("index"), "vaf_vec")
        .setField(rpD.findFieldByName("partitioner"), "ecp").build())) shouldBe false

    // migrate `label` parquet -> embedded KV; reads reassemble by ap_id
    val txD = Proto.msg("TransferStorageHandlerMessage")
    val tx = call(mdDef("TransferStorageHandler", "TransferStorageHandlerMessage",
      "AckMessage"),
      Proto.newMsg("TransferStorageHandlerMessage")
        .setField(txD.findFieldByName("entity"), "rpcxfer")
        .addRepeatedField(txD.findFieldByName("attributes"), "label")
        .setField(txD.findFieldByName("handler"), "keyvalue").build())
    ackOk(tx) shouldBe true
    str(call(mdDef("Count", "EntityNameMessage", "AckMessage"),
      entityName("rpcxfer")), "message") shouldBe "30"
    val bRes = call(mdSearch("DoQuery", "QueryMessage", "QueryResultsMessage"),
      queryMsg("rpcxfer", "xf2", None, where = Seq(("label", "=", Seq("x11")))))
    resultRows(bRes) should have size 1

    // the grouped attribute reports its handler's CONFIGURATION over the
    // wire (param_* entries), not just the handler name — the KV store's
    // key column + bucket count here
    val apD2 = Proto.msg("AttributePropertiesMessage")
    def xferAttrProps(attribute: String): Map[String, String] = {
      val pd2 = Proto.msg("PropertiesMessage")
      val entryD2 = pd2.findNestedTypeByName("PropertiesEntry")
      val r = call(mdDef("GetAttributeProperties", "AttributePropertiesMessage",
        "PropertiesMessage"),
        Proto.newMsg("AttributePropertiesMessage")
          .setField(apD2.findFieldByName("entity"), "rpcxfer")
          .setField(apD2.findFieldByName("attribute"), attribute).build())
      ackOk(sub(r, "ack")) shouldBe true
      r.getField(pd2.findFieldByName("properties"))
        .asInstanceOf[java.util.List[_]].asScala.map { e =>
          val em = e.asInstanceOf[DynamicMessage]
          em.getField(entryD2.findFieldByName("key")).asInstanceOf[String] ->
            em.getField(entryD2.findFieldByName("value")).asInstanceOf[String]
        }.toMap
    }
    val kvProps = xferAttrProps("label")
    kvProps("handler") shouldBe "keyvalue"
    kvProps("store") should not be ""
    kvProps("param_key") shouldBe "ap_id"
    kvProps("param_buckets") shouldBe "64"
    kvProps("param_format") shouldBe "parquet"

    // the KV group serves bucket-pruned point lookups by ap_id
    val e = graft.core.Entity.open(spark, base, "rpcxfer")
    e.attributeGroups.map(_.handler) shouldBe Seq("keyvalue")
    val someId = e.read().select("ap_id").limit(1).collect().head.getLong(0)
    val kvRow = e.kvLookup(Seq(someId)).collect()
    kvRow should have length 1
    kvRow.head.getAs[String]("label") should startWith("x")

    // migrate label onward to an ORC group: params follow the handler
    ackOk(call(mdDef("TransferStorageHandler", "TransferStorageHandlerMessage",
      "AckMessage"),
      Proto.newMsg("TransferStorageHandlerMessage")
        .setField(txD.findFieldByName("entity"), "rpcxfer")
        .addRepeatedField(txD.findFieldByName("attributes"), "label")
        .setField(txD.findFieldByName("handler"), "orc").build())) shouldBe true
    val orcProps = xferAttrProps("label")
    orcProps("handler") shouldBe "orc"
    orcProps("param_format") shouldBe "orc"
    orcProps should not contain key("param_key")

    // migrate onward to the compound full+random engine: scans keep
    // serving, point lookups ride the KV half, params expose the duality
    ackOk(call(mdDef("TransferStorageHandler", "TransferStorageHandlerMessage",
      "AckMessage"),
      Proto.newMsg("TransferStorageHandlerMessage")
        .setField(txD.findFieldByName("entity"), "rpcxfer")
        .addRepeatedField(txD.findFieldByName("attributes"), "label")
        .setField(txD.findFieldByName("handler"), "compound").build())) shouldBe true
    val compProps = xferAttrProps("label")
    compProps("handler") shouldBe "compound"
    compProps("param_scan") shouldBe "parquet"
    compProps("param_random") shouldBe "keyvalue"
    compProps("param_random_key") shouldBe "ap_id"
    str(call(mdDef("Count", "EntityNameMessage", "AckMessage"),
      entityName("rpcxfer")), "message") shouldBe "30"
    val eComp = graft.core.Entity.open(spark, base, "rpcxfer")
    val compId = eComp.read().select("ap_id").limit(1).collect().head.getLong(0)
    eComp.kvLookup(Seq(compId)).count() shouldBe 1

    // transfer back to parquet folds the group into the primary store
    ackOk(call(mdDef("TransferStorageHandler", "TransferStorageHandlerMessage",
      "AckMessage"),
      Proto.newMsg("TransferStorageHandlerMessage")
        .setField(txD.findFieldByName("entity"), "rpcxfer")
        .addRepeatedField(txD.findFieldByName("attributes"), "label")
        .setField(txD.findFieldByName("handler"), "parquet").build())) shouldBe true
    graft.core.Entity.open(spark, base, "rpcxfer").attributeGroups shouldBe empty
    str(call(mdDef("Count", "EntityNameMessage", "AckMessage"),
      entityName("rpcxfer")), "message") shouldBe "30"
    // json/csv are export formats, not group stores (float->double drift)
    ackOk(call(mdDef("TransferStorageHandler", "TransferStorageHandlerMessage",
      "AckMessage"),
      Proto.newMsg("TransferStorageHandlerMessage")
        .setField(txD.findFieldByName("entity"), "rpcxfer")
        .addRepeatedField(txD.findFieldByName("attributes"), "label")
        .setField(txD.findFieldByName("handler"), "csv").build())) shouldBe false

    call(mdDef("DropEntity", "EntityNameMessage", "AckMessage"),
      entityName("rpcxfer"))
  }

  test("docs/graft_adam.proto stays in sync with the runtime schema (drift guard)") {
    val text = new String(Files.readAllBytes(
      java.nio.file.Paths.get("docs/graft_adam.proto")))
    val protoMessages = "(?m)^message (\\w+)".r
      .findAllMatchIn(text).map(_.group(1)).toSet
    val runtimeMessages = Proto.file.getMessageTypes.asScala.map(_.getName).toSet
    protoMessages shouldBe runtimeMessages

    val protoRpcs = "(?m)^\\s*rpc (\\w+) ".r
      .findAllMatchIn(text).map(_.group(1)).toSet
    val served = (server.definitionService.getMethods.asScala ++
      server.searchService.getMethods.asScala)
      .map(_.getMethodDescriptor.getFullMethodName.split('/').last).toSet
    protoRpcs shouldBe served

    // service names match too
    "(?m)^service (\\w+)".r.findAllMatchIn(text).map(_.group(1)).toSet shouldBe
      Set(server.definitionService.getServiceDescriptor.getName,
        server.searchService.getServiceDescriptor.getName)
        .map(_.split('.').last)
  }

  test("GraftClient covers every served RPC (client drift guard)") {
    val src = new String(Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/grpc/GraftClient.scala")))
    val called = """"(Adam\w+)", "(\w+)"""".r
      .findAllMatchIn(src).map(_.group(2)).toSet
    val served = (server.definitionService.getMethods.asScala ++
      server.searchService.getMethods.asScala)
      .map(_.getMethodDescriptor.getFullMethodName.split('/').last).toSet
    // a new server RPC without a client method fails here, not in a
    // user's hands
    (served -- called) shouldBe empty
  }

  test("netty TCP battery through the GraftClient artifact") {
    import graft.grpc.GraftClient
    import graft.grpc.GraftClient.{Nnq, Projection, Where}
    val tcp = server.startNetty(0)
    try {
      val client = GraftClient.connect("localhost", tcp.getPort)
      try {
        client.ping() shouldBe true

        // ---- entity DDL/DML ----
        client.createEntity("cliebat",
          Seq("label" -> "string", "vec" -> "vector")).get shouldBe "cliebat"
        client.existsEntity("cliebat").get shouldBe true
        val rnd = new scala.util.Random(3)
        client.insert("cliebat", (0 until 20).map(i => Map[String, Any](
          "label" -> (if (i % 2 == 0) "even" else "odd"),
          "vec" -> Seq.fill(8)(rnd.nextFloat())))).get
        // the other half over the bidi streaming-insert path: one ack
        // per batch, all OK, rows visible once the stream closes
        val streamed = client.streamInsert("cliebat",
          (20 until 40).map(i => Map[String, Any](
            "label" -> (if (i % 2 == 0) "even" else "odd"),
            "vec" -> Seq.fill(8)(rnd.nextFloat()))).grouped(5).toSeq).get
        streamed should have size 4
        streamed.foreach(_.isSuccess shouldBe true)
        client.count("cliebat").get shouldBe 40L
        client.listEntities().get should contain("cliebat")
        client.preview("cliebat", 5).get should have size 5
        client.entityProperties("cliebat").get("count") shouldBe "40"
        client.attributeProperties("cliebat", "vec").get("type") shouldBe "vector"

        // ---- index DDL ----
        client.createIndex("cliebat", "vec", "vaf").get shouldBe "vaf_vec"
        client.existsIndex("cliebat", "vec", "vaf").get shouldBe true
        client.listIndexes("cliebat").get should contain("vaf_vec")
        client.indexProperties("cliebat", "vaf_vec").get("indextype") shouldBe "VAIndex"
        // per-type build options over the wire (reference
        // IndexMessage.options): a tuned LSH builds and serves...
        client.createIndex("cliebat", "vec", "lsh",
          Map("ntables" -> "4", "nhashes" -> "1", "probes" -> "1")).get shouldBe "lsh_vec"
        client.indexProperties("cliebat", "lsh_vec").get("indextype") shouldBe "LSHIndex"
        // ...and a typo'd option is an error ack, not a silently-default
        // index build
        client.createIndex("cliebat", "vec", "pq",
          Map("ntable" -> "4")).isFailure shouldBe true
        client.existsIndex("cliebat", "vec", "pq").get shouldBe false

        // ---- query families ----
        val q = Nnq("vec", Seq.fill(8)(0.5f), "euclidean", 5)
        val seqRes = client.query("cliebat", Some(q)).get
        seqRes.head.rows should have size 5
        // planner-hinted scan routes through the index, same ids
        val hinted = client.query("cliebat", Some(q), hints = Seq("vaf")).get
        hinted.head.source shouldBe "index:vaf"
        hinted.head.rows.map(_("ap_id")) shouldBe seqRes.head.rows.map(_("ap_id"))
        // boolean-filtered kNN
        val filtered = client.query("cliebat", Some(q),
          where = Seq(Where("label", "=", Seq("even")))).get
        filtered.head.rows should have size 5
        // projection: count over the whole entity
        val counted = client.query("cliebat",
          projection = Some(Projection("count"))).get
        counted.head.rows.head("n") shouldBe 40L
        // weighted query through the client (zero weights → distance 0)
        val wq = client.query("cliebat",
          Some(q.copy(weights = Some(Seq.fill(8)(0.0f))))).get
        wq.head.rows.foreach(_("distance") shouldBe 0.0)
        // progressive stream: BOTH racing plans observed through the
        // client (exact sequential + the VA index), the callback sees
        // them in arrival order, and the best-confidence observation is
        // exact and id-identical to the blocking sequential result —
        // the reference RPCClient.doProgressiveQuery observer contract
        var arrived = List.empty[(String, Double)]
        val prog = client.progressiveQuery(
          client.buildQuery("cliebat", Some(q))) { r =>
            arrived :+= ((r.source, r.confidence)) }.get
        prog.size should be >= 2
        prog.map(_.source) should contain allOf ("sequential", "index:vaf")
        arrived shouldBe prog.map(r => (r.source, r.confidence)).toList
        val best = prog.maxBy(_.confidence)
        best.confidence shouldBe 1.0
        best.rows.map(_("ap_id")) shouldBe seqRes.head.rows.map(_("ap_id"))
        // batch: per-slot errors stay in their slot
        val batch = client.batchQuery(Seq(
          client.buildQuery("cliebat", Some(q)),
          client.buildQuery("no_such_entity", Some(q)))).get
        batch.head.get.head.rows should have size 5
        batch(1).isFailure shouldBe true
        // bidi streaming query: one result set per sent query in order,
        // per-query errors stay in their slot (reference doStreamingQuery)
        val sq = client.streamingQuery(Seq(
          client.buildQuery("cliebat", Some(q)),
          client.buildQuery("no_such_entity", Some(q)))).get
        sq should have size 2
        sq.head.get.head.rows should have size 5
        sq(1).isFailure shouldBe true
        // result cache by queryid
        client.query("cliebat", Some(q), queryid = "cli-q1").get
        client.cachedResults("cli-q1").get.head.rows should have size 5
        // compound FROM expression: intersect of a query with itself
        val comp = client.doQuery(client.buildCompoundQuery("intersect",
          client.buildQuery("cliebat", Some(q)),
          client.buildQuery("cliebat", Some(q)))).get
        comp.head.rows should have size 5

        // ---- planner / catalog introspection ----
        client.scoredExecutionPaths("cliebat").get
          .map(_._1) should contain("sequential")
        client.availableAttributeTypes().get should contain("vector")
        client.storageHandlers().get should contain("parquet")

        // ---- mutation + cleanup ----
        client.delete("cliebat", Seq(Where("label", "=", Seq("odd")))).get
        client.count("cliebat").get shouldBe 20L
        // the delete flagged the stored indexes stale; RefreshIndex
        // rebuilds over current data with the create-time recipe — the
        // tuned LSH keeps its 4-table configuration
        client.indexProperties("cliebat", "vaf_vec").get("stale") shouldBe "true"
        client.refreshIndex("cliebat", "vaf_vec").get shouldBe "vaf_vec"
        client.indexProperties("cliebat", "vaf_vec").get("stale") shouldBe "false"
        client.refreshIndex("cliebat", "lsh_vec").get shouldBe "lsh_vec"
        graft.core.Entity.open(spark, base, "cliebat").loadIndex("lsh_vec")
          .index.asInstanceOf[graft.index.LSHIndex].projections.length shouldBe 4
        client.vacuum("cliebat").get
        client.dropEntity("cliebat").get
        client.existsEntity("cliebat").get shouldBe false
        // a failed op is a Failure, not an exception
        client.count("no_such_entity").isFailure shouldBe true
      } finally client.close()
    } finally tcp.shutdownNow()
  }
}
