package servebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.api.{NnQuery, QueryOps}
import graft.core.Entity
import graft.operators.BooleanPredicates

/** Spark's execution of each traced call, seen from a listener: jobs are
  * tagged with the span that submitted them (a local property set on the
  * calling thread), tasks are summed per stage. Jobs submitted by the
  * server's own threads carry no tag and are matched to served-request
  * windows by submission time. */
final class ExecListener extends SparkListener {
  import ExecListener._
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.time,
      Option(e.properties).map(_.getProperty(ExecListener.SpanKey)).orNull, e.stageIds))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.records += m.inputMetrics.recordsRead
      a.bytes += m.inputMetrics.bytesRead
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def jobsTagged(p: String => Boolean): Seq[Job] =
    jobs.asScala.toSeq.filter(j => j.tag != null && p(j.tag))
  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.asScala.toSeq.filter(j => j.tag == null && j.timeMs >= fromMs && j.timeMs <= toMs)
  def agg(js: Seq[Job]): StageAgg = {
    val out = new StageAgg
    js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s))).foreach { a =>
      out.tasks += a.tasks; out.cpuNs += a.cpuNs; out.records += a.records
      out.bytes += a.bytes; out.shuffleBytes += a.shuffleBytes
    }
    out
  }
}

object ExecListener {
  val SpanKey = "servebench.span"
  final case class Job(timeMs: Long, tag: String, stages: Seq[Int])
  final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var records = 0L; var bytes = 0L; var shuffleBytes = 0L
  }
}

/** One timed call into a layer, from outside the program. */
final case class Span(req: Int, name: String, parent: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Replays each request as the sequence of public calls the server makes
  * for it, one span per call: `GraftClient.buildQuery`, `Entity.open`,
  * `Entity.read`, `Entity.loadIndex`, `QueryOps.*`, `executedPlan`,
  * `collect`. Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession, base: String, w: Workload, data: Data, cl: Clients) {
  val spans = ArrayBuffer.empty[Span]
  /** (request, result rows) for the direct calls. */
  val results = ArrayBuffer.empty[(Int, Long)]
  /** (request, candidate rows) from the index probe. */
  val candidates = ArrayBuffer.empty[(Int, Long)]
  /** Part files in the live data directory after each traced insert. */
  val partFiles = ArrayBuffer.empty[Int]
  var vacuums = 0

  private val sc = spark.sparkContext

  def span[T](req: Int, name: String, parent: String = "request")(f: => T): T = {
    sc.setLocalProperty(ExecListener.SpanKey, s"$req/$name")
    val s = System.nanoTime()
    try f
    finally {
      spans += Span(req, name, parent, s, System.nanoTime())
      sc.setLocalProperty(ExecListener.SpanKey, null)
    }
  }

  private val schema = StructType(Seq(StructField("rid", IntegerType),
    StructField("cat", IntegerType), StructField("tag", StringType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))

  private def predicate(p: Pred) = BooleanPredicates.Predicate(p.attr, "=", Seq(p.value))

  /** The direct-call twin of one served request (root span `request`),
    * then, for a named-index request, the index's candidate scan on its
    * own, on a freshly loaded index: an index memoizes per-query state, so
    * the twin's instance would time a warm probe. The probe is not part of
    * the twin. */
  def direct(req: Int, op: Op): Unit = {
    twin(req, op).foreach { case (name, nnq) =>
      val idx = Entity.open(spark, base, w.entity).loadIndex(name).index
      candidates += req -> span(req, "index.candidates", parent = "")(
        idx.candidates(nnq.q, nnq.k).count())
    }
  }

  private def twin(req: Int, op: Op): Option[(String, NnQuery)] = span(req, "request", parent = "") {
    op match {
      case InsertOp(rids) =>
        val batch = rids.map(r => Row(r, data.cat(r), data.tag(r), data.vec(r).toSeq))
        val before = Entity.open(spark, base, w.entity).stamp._1
        span(req, "core.insert") {
          Entity.open(spark, base, w.entity).insert(spark.createDataFrame(batch.asJava, schema))
        }
        val e = Entity.open(spark, base, w.entity)
        if (e.stamp._1 != before) vacuums += 1
        partFiles += liveParts()
        None
      case CountOp(_) =>
        val e = span(req, "core.open")(Entity.open(spark, base, w.entity))
        val df = span(req, "core.read")(e.read())
        span(req, "exec.collect")(df.count())
        results += req -> 1L
        None
      case _ =>
        if (!op.viaHttp) span(req, "grpc.encode")(cl.queryMessage(op).toByteArray)
        val e = span(req, "core.open")(Entity.open(spark, base, w.entity))
        val df = span(req, "core.read")(e.read())
        var probe = Option.empty[(String, NnQuery)]
        val frame: DataFrame = op match {
          case KnnOp(q, k, pred, route, _, _) =>
            val nnq = NnQuery("vec", q.map(_.toDouble).toSeq, "euclidean", k)
            route match {
              case Scan => span(req, "api.build")(pred match {
                case None => QueryOps.sequential(df, Entity.ApId, nnq)
                case Some(p) => QueryOps.filteredKnn(df, Entity.ApId, Seq(predicate(p)), nnq)
              })
              case NamedIndex(name, _) =>
                val loaded = span(req, "index.load") { e.listIndexes; e.loadIndex(name) }
                probe = Some((name, nnq))
                span(req, "api.build")(QueryOps.index(df, Entity.ApId, loaded.index, nnq))
              case PlannerHint(h) =>
                val idxs = span(req, "index.load")(
                  e.listIndexes.map(e.loadIndex).filterNot(_.stale).map(_.index))
                val plan = span(req, "plans.choose")(
                  QueryOps.choosePlan(df, idxs, graft.plans.Planner.hintsByName(Seq(h)), nnq))
                span(req, "api.build")(QueryOps.runPlan(plan, df, Entity.ApId, nnq))
            }
          case LookupOp(p, http) =>
            // the gRPC front door caps a Boolean scan at 500 rows; HTTP
            // collects up to its paging cap
            span(req, "api.build")(QueryOps.booleanQuery(df, Seq(predicate(p)))
              .limit(if (http) graft.api.Server.MaxResults + 1 else 500))
          case other => throw new IllegalArgumentException(s"not a read: $other")
        }
        val out = if (op.viaHttp && op.isInstanceOf[KnnOp])
          frame.select(col("rid"), col("distance")) else frame
        span(req, "plans.catalyst")(out.queryExecution.executedPlan)
        val n = span(req, "exec.collect")(
          if (op.viaHttp) out.toJSON.collect().length.toLong else out.collect().length.toLong)
        results += req -> n
        probe
    }
  }

  /** Part files in the entity's live data directory. */
  def liveParts(): Int = {
    val dir = java.nio.file.Paths.get(base, w.entity)
    val s = java.nio.file.Files.walk(dir, 3)
    try s.iterator().asScala.count { p =>
      val f = p.getFileName.toString
      f.startsWith("part-") && p.toString.contains("data_v")
    } finally s.close()
  }
}
