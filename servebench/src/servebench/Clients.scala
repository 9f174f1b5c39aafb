package servebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import java.io.{ByteArrayInputStream, InputStream}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.sparkproject.connect.grpc.{CallOptions, MethodDescriptor}
import org.sparkproject.connect.grpc.stub.ClientCalls
import org.sparkproject.connect.protobuf.{Descriptors, DynamicMessage}

import graft.grpc.{GraftClient, Proto}
import graft.grpc.GraftClient.{Nnq, Where}

/** One gRPC channel and one HTTP connection to the served program, used
  * from a single client thread. `send` turns an op into its request on
  * the chosen front door and reduces the reply to an [[Answer]]; a
  * refused or failed request throws. */
final class Clients(grpcPort: Int, httpPort: Int, w: Workload, data: Data)
  extends AutoCloseable {

  val grpc: GraftClient = GraftClient.connect("127.0.0.1", grpcPort)
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()
  private val vecCol = "vec"

  private def hints(r: Route): Seq[String] = r match {
    case Scan => Nil
    case NamedIndex(name, _) => Seq(name)
    case PlannerHint(h) => Seq(h)
  }

  private def where(p: Pred): Where = Where(p.attr, "=", Seq(p.value))

  /** The gRPC QueryMessage for a read op (the client-side encode). */
  def queryMessage(op: Op): DynamicMessage = op match {
    case KnnOp(q, k, pred, route, _, _) =>
      grpc.buildQuery(w.entity, Some(Nnq(vecCol, q.toSeq, "euclidean", k)),
        pred.map(where).toSeq, hints(route))
    case LookupOp(p, _) => grpc.buildQuery(w.entity, where = Seq(where(p)))
    case other => throw new IllegalArgumentException(s"no query message for $other")
  }

  private def httpPost(path: String, body: JsonNode): JsonNode = {
    val resp = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$httpPort$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofByteArray(mapper.writeValueAsBytes(body))).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    val out = mapper.readTree(resp.body())
    if (resp.statusCode() != 200 || !out.path("ok").asBoolean(false))
      throw new RuntimeException(s"HTTP $path: ${out.path("error").asText(resp.statusCode().toString)}")
    out
  }

  private def predNode(p: Pred): JsonNode = {
    val n = mapper.createObjectNode().put("attribute", p.attr).put("op", "=")
    val vs = n.putArray("values")
    p.value match { case i: Int => vs.add(i); case s => vs.add(s.toString) }
    n
  }

  private def httpBody(op: Op): JsonNode = op match {
    case KnnOp(q, k, None, Scan, true, _) =>
      val n = mapper.createObjectNode().put("entity", w.entity).put("idCol", "rid")
        .put("vecCol", vecCol).put("k", k)
      val arr = n.putArray("q")
      q.foreach(x => arr.add(x.toDouble)) // exact: a float widens to a double losslessly
      n
    case LookupOp(p, true) =>
      val n = mapper.createObjectNode().put("entity", w.entity)
      n.putArray("predicates").add(predNode(p))
      n
    case CountOp(true) => mapper.createObjectNode().put("name", w.entity)
    case other => throw new IllegalArgumentException(s"no HTTP request for $other")
  }

  private def httpPath(op: Op): String = op match {
    case _: KnnOp => "/query/knn"
    case _: LookupOp => "/query/boolean"
    case _: CountOp => "/entity/count"
    case other => throw new IllegalArgumentException(s"no HTTP endpoint for $other")
  }

  private def rowsOf(rows: Iterable[Map[String, Any]]): (Array[Int], Array[Double]) = {
    val rs = rows.toArray
    (rs.map(_("rid").asInstanceOf[Number].intValue()),
      rs.map(_.get("distance").map(_.asInstanceOf[Number].doubleValue()).getOrElse(0.0)))
  }

  private def jsonRows(out: JsonNode): (Array[Int], Array[Double]) = {
    val rs = out.path("rows").elements().asScala.toArray
    require(!out.has("pageToken"), "answer spans more than one page")
    (rs.map(_.path("rid").asInt()), rs.map(_.path("distance").asDouble(0.0)))
  }

  def send(op: Op, visible: Int): Answer = op match {
    case InsertOp(rids) =>
      grpc.insert(w.entity, rids.map(data.row)).get
      Answer(op, visible, Array.empty, Array.empty, 0L)
    case CountOp(false) => Answer(op, visible, Array.empty, Array.empty, grpc.count(w.entity).get)
    case CountOp(true) =>
      Answer(op, visible, Array.empty, Array.empty, httpPost(httpPath(op), httpBody(op)).path("count").asLong())
    case _ if op.viaHttp =>
      val (ids, dists) = jsonRows(httpPost(httpPath(op), httpBody(op)))
      Answer(op, visible, ids, dists, 0L)
    case _ =>
      val res = grpc.doQuery(queryMessage(op)).get
      val (ids, dists) = rowsOf(res.flatMap(_.rows))
      Answer(op, visible, ids, dists, 0L)
  }

  private val doQuery = {
    def marshaller(desc: Descriptors.Descriptor, counted: Boolean) =
      new MethodDescriptor.Marshaller[DynamicMessage] {
        override def stream(m: DynamicMessage): InputStream = new ByteArrayInputStream(m.toByteArray)
        override def parse(in: InputStream): DynamicMessage = {
          val bytes = in.readAllBytes()
          if (counted) lastResponseBytes = bytes.length
          DynamicMessage.parseFrom(desc, bytes)
        }
      }
    MethodDescriptor.newBuilder(marshaller(Proto.msg("QueryMessage"), counted = false),
        marshaller(Proto.msg("QueryResultsMessage"), counted = true))
      .setFullMethodName(MethodDescriptor.generateFullMethodName("adam.AdamSearch", "DoQuery"))
      .setType(MethodDescriptor.MethodType.UNARY).build()
  }
  @volatile private var lastResponseBytes = 0L

  private def field(m: DynamicMessage, name: String): AnyRef =
    m.getField(m.getDescriptorForType.findFieldByName(name))

  /** A gRPC read sent on the same channel through a marshaller that counts
    * the response bytes: the answer and the response size. */
  def sendCounted(op: Op, visible: Int): (Answer, Long) = {
    val resp = ClientCalls.blockingUnaryCall(grpc.channel, doQuery, CallOptions.DEFAULT,
      queryMessage(op))
    val ack = field(resp, "ack").asInstanceOf[DynamicMessage]
    if (field(ack, "code").toString != "OK")
      throw new RuntimeException(field(ack, "message").toString)
    val rows = field(resp, "responses").asInstanceOf[java.util.List[_]].asScala.flatMap { info =>
      field(info.asInstanceOf[DynamicMessage], "results").asInstanceOf[java.util.List[_]].asScala
        .map(t => Proto.dataMap(t.asInstanceOf[DynamicMessage], "QueryResultTupleMessage"))
    }
    val (ids, dists) = rowsOf(rows)
    (Answer(op, visible, ids, dists, 0L), lastResponseBytes)
  }

  def close(): Unit = grpc.close()
}
