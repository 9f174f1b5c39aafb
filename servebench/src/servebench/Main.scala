package servebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.core.{Entity, GraftSession}
import graft.grpc.GraftGrpcServer

/** Served-retrieval benchmark. Starts the program as `graft.Serve` deploys
  * it (one session at `local[nproc / 2]`, the gRPC server on Netty and the
  * HTTP server over one entity base directory), loads seeded synthetic
  * rows, and drives it from one closed-loop client thread over loopback.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --detail <file> --t0-ms <epoch ms the run started>`.
  * The last stdout line is the result record; the full detail of the run
  * goes to `--detail`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // the HTTP server's worker pool is not daemon: end the JVM explicitly
    val code = try {
      val bench = new Bench(Workload.byName(a("workload")), a("seed").toLong,
        a("seconds").toInt, a("trace") == "1", Paths.get(a("work")), Paths.get(a("detail")),
        a("t0-ms").toLong)
      val line = try bench.run() finally bench.close()
      println(line)
      0
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }
}

/** One timed request; `answer` is empty when the request failed. */
final case class Sample(op: Op, ms: Double, startMs: Long, endMs: Long,
                        answer: Option[Answer], error: Option[String])

final class Bench(w: Workload, seed: Long, seconds: Int, trace: Boolean,
                  work: Path, detailPath: Path, t0Ms: Long) {

  private val cpus = Runtime.getRuntime.availableProcessors()
  /** Spark task slots: half the vCPUs (`graft.Serve` takes the count from
    * `SPARK_GRAFT_CPUS`). The other half runs the gRPC and HTTP server
    * threads, the client, and the JIT and GC threads; with a slot per vCPU
    * they queue behind Spark's tasks, and on 4 vCPUs requests took longer
    * and used more CPU (see README). */
  private val cores = math.max(1, cpus / 2)
  private val base = work.resolve("entities")
  Files.createDirectories(base)

  private val spark: SparkSession = GraftSession.builder(s"local[$cores]", cores)
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private val httpServer = graft.api.Server.start(spark, base.toString, 0)
  private val grpcServer = new GraftGrpcServer(spark, base.toString).startNetty(0)

  private val data = new Data(seed, w.dim, w.tagCard)
  private val requests = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
  private val cl = new Clients(grpcServer.getPort, httpServer.port, w, data)
  private var visible = 0
  private val mapper = new ObjectMapper()
  private val detail = mapper.createObjectNode()
  /** Seconds from the runner's start at which each phase of the run ended. */
  private val phases = detail.putObject("phase_end_s")
  private def phase(name: String): Unit = phases.put(name, (System.currentTimeMillis() - t0Ms) / 1000.0)

  def close(): Unit = {
    Try(cl.close())
    Try(httpServer.stop())
    Try { grpcServer.shutdownNow(); grpcServer.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS) }
    Try(spark.stop())
  }

  // ---- measurement helpers ------------------------------------------------

  private val threads = ManagementFactory.getThreadMXBean
  /** CPU time of every live Java thread by id. JIT compiler and GC threads
    * are not Java-visible, so their CPU (which varies with how far the JIT
    * has got) is left out; it is the program's own work that is counted. */
  private def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  private def cpuSinceNs(before: Map[Long, Long]): Long =
    threadCpuNs().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  /** Host steal seconds summed over all CPUs (`/proc/stat`, USER_HZ = 100). */
  private def stealS: Double = Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally f.close()
  }.getOrElse(0.0)

  private def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Spark's ContextCleaner frees broadcasts and shuffle state only after a
    * collection has cleared their weak references; the pauses let it run
    * before the next collection. */
  private def usedHeapAfterGcMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def timed[T](f: => T): (T, Double) = {
    val s = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - s) / 1e6)
  }

  // ---- the request loop ---------------------------------------------------

  private def send(op: Op): Sample = {
    val startMs = System.currentTimeMillis()
    val s = System.nanoTime()
    val r = Try(cl.send(op, visible))
    val ms = (System.nanoTime() - s) / 1e6
    op match { case InsertOp(rids) if r.isSuccess => visible = rids.end; case _ => }
    Sample(op, ms, startMs, System.currentTimeMillis(), r.toOption,
      r.failed.toOption.map(e => String.valueOf(e.getMessage)))
  }

  private def nextRound(): Seq[Op] = w.round(requests, data, visible)

  private val blockOps = 8

  /** Untimed warm-up in blocks of whole rounds: it ends when the last three
    * block medians are none of them below the best earlier one (the
    * medians stopped falling), or after the workload's round cap. The cap
    * is a count, not a time, so that every run starts measuring from the
    * same amount of JIT warm-up however much CPU the host steals. */
  private def warmUp(): (Seq[Sample], Seq[Double]) = {
    val samples = ArrayBuffer.empty[Sample]
    val medians = ArrayBuffer.empty[Double]
    var rounds = 0
    def settled = medians.size >= 5 && medians.takeRight(3).min >= medians.dropRight(3).min
    while (rounds < w.warmRounds && !settled) {
      val block = ArrayBuffer.empty[Sample]
      while (block.size < blockOps && rounds < w.warmRounds) {
        block ++= nextRound().map(send)
        rounds += 1
      }
      medians += median(block.map(_.ms).toSeq)
      samples ++= block
    }
    (samples.toSeq, medians.toSeq)
  }

  /** One measured round: its requests, wall time, Java-thread CPU and host steal. */
  private final case class Round(samples: Seq[Sample], wallS: Double, cpuMs: Double, stealS: Double)

  /** Whole rounds until `ms` have passed. */
  private def measure(ms: Long): Seq[Round] = {
    val out = ArrayBuffer.empty[Round]
    val end = System.nanoTime() + ms * 1000000L
    while (System.nanoTime() < end) {
      val cpu0 = threadCpuNs(); val steal0 = stealS; val s = System.nanoTime()
      val samples = nextRound().map(send)
      out += Round(samples, (System.nanoTime() - s) / 1e9, cpuSinceNs(cpu0) / 1e6, stealS - steal0)
    }
    out.toSeq
  }

  // ---- set-up -------------------------------------------------------------

  private val FirstWriteRows = 200
  private val FirstWrites = 2
  private var loadLatencies = Seq.empty[Double]
  private val indexBuildS = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]

  private def setUp(): Unit = {
    cl.grpc.createEntity(w.entity, Seq("rid" -> "int", "cat" -> "int", "tag" -> "string",
      "vec" -> "vector")).get
    // the first writes pay the JVM's one-time cost of the insert path
    // (class loading, code generation); they count in setup_s but not in
    // the bulk-load metrics, which are timed over the batches after them
    (1 to FirstWrites).foreach(_ => send(InsertOp(data.grow(FirstWriteRows))).error.foreach(e =>
      throw new IllegalStateException(s"first insert failed: $e")))
    phase("first_writes")
    val rows = data.grow(w.rows - FirstWrites * FirstWriteRows)
    val (lat, loadMs) = timed(rows.grouped(w.loadBatch).map { batch =>
      val s = send(InsertOp(batch))
      s.error.foreach(e => throw new IllegalStateException(s"bulk load failed: $e"))
      s.ms
    }.toSeq)
    loadLatencies = lat
    phase("bulk_load")
    detail.put("bulk_load_rows_per_s", rows.size / (loadMs / 1000.0))
    // knn_scan and mixed_small serve no index; they build the pq index
    // (and rebuild it, see rebuildIndexes) and then drop it, so that index
    // build time is known for every entity
    val build = if (w.indexes.nonEmpty) w.indexes else Seq("pq")
    build.foreach { tp =>
      val (_, ms) = timed(cl.grpc.createIndex(w.entity, "vec", tp).get)
      indexBuildS(tp) = Seq(ms / 1000.0)
    }
  }

  /** After the timed set-up: drop and rebuild each index the workload's
    * `indexRebuilds` times. `index_build_s` takes the fastest of these
    * rebuilds: the first, cold build (in `setup_s`) is mostly JIT
    * compilation and takes two to three times as long, the rebuilds still
    * get faster one after another as compilation catches up, and host
    * steal only ever adds time to a build. */
  private def rebuildIndexes(): Unit = {
    indexBuildS.keys.toSeq.foreach { tp =>
      (1 to w.indexRebuilds).foreach { _ =>
        cl.grpc.dropIndex(w.entity, s"${tp}_vec").get
        val (_, ms) = timed(cl.grpc.createIndex(w.entity, "vec", tp).get)
        indexBuildS(tp) = indexBuildS(tp) :+ ms / 1000.0
      }
    }
    if (w.indexes.isEmpty) cl.grpc.dropIndex(w.entity, Workload.PqIndex).get
  }
  private def indexBuildBestS(tp: String): Double =
    indexBuildS.get(tp).map(_.tail.min).getOrElse(0.0)

  // ---- correctness --------------------------------------------------------

  private val RecallFloor = 0.25

  /** Checks every answer against the benchmark's own rows; returns the
    * problems found and the recall of each kNN answer (approximate ones
    * flagged). */
  private def verify(samples: Seq[Sample]): (Seq[String], Seq[(Boolean, Double)]) = {
    val answers = samples.flatMap(_.answer).toArray
    val perAnswer = java.util.stream.IntStream.range(0, answers.length).parallel()
      .mapToObj[(Seq[String], Option[(Boolean, Double)])] { i =>
        val a = answers(i)
        a.op match {
          case KnnOp(q, k, pred, route, _, inserted) =>
            val keep: Int => Boolean = pred.map(p => (r: Int) => p.holds(data, r)).getOrElse(_ => true)
            val truth = Checks.bruteForce(data, a.visible, q, k, keep)
            val exact = route match { case NamedIndex(_, ex) => ex; case _ => true }
            val problems =
              if (exact) Checks.exactKnn(data, q, a.ids, a.dists, truth)
              else Checks.approxKnn(data, q, a.ids, a.dists)
            val recall = Checks.recall(a.ids, truth)
            val extra = pred.toSeq.flatMap(Checks.satisfies(data, a.ids, _)) ++
              (if (inserted >= 0) Checks.findsInserted(inserted, a.ids, a.dists) else Nil)
            (problems ++ extra, Some(!exact -> recall))
          case LookupOp(p, _) => (Checks.lookup(data, a.visible, a.ids, p), None)
          case CountOp(_) => (Checks.count(a.visible, a.count), None)
          case InsertOp(_) => (Nil, None)
        }
      }.iterator().asScala.toSeq
    val recalls = perAnswer.flatMap(_._2)
    val floor = Checks.recallFloor(recalls.filter(_._1).map(_._2), RecallFloor)
    (perAnswer.flatMap(_._1) ++ floor, recalls)
  }

  // ---- the run ------------------------------------------------------------

  private def put(o: ObjectNode, name: String, v: Double, unit: String, digits: Int): Unit = {
    val m = o.putObject(name)
    m.put("value", BigDecimal(v).round(new java.math.MathContext(digits)).toDouble)
    m.put("unit", unit)
  }

  def run(): String = {
    phase("servers_up")
    setUp()
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    rebuildIndexes()
    phase("index_rebuilds")
    val (warm, warmMedians) = warmUp()
    phase("warm_up")

    val steal0 = stealS; val gc0 = gcMs; val cpu0 = threadCpuNs(); val wall0 = System.nanoTime()
    val rounds = if (trace) Nil else measure(seconds * 1000L)
    val measured = rounds.flatMap(_.samples)
    val traced = if (trace) Some(runTraced(seconds * 1000L)) else None
    val wallS = (System.nanoTime() - wall0) / 1e9
    val cpuMs = cpuSinceNs(cpu0) / 1e6
    val gcDeltaMs = gcMs - gc0
    val stealDelta = stealS - steal0
    phase("measure")
    val heapMb = usedHeapAfterGcMb()
    val storeBytes = dirBytes(base.resolve(w.entity))

    val served = measured ++ traced.map(_._1).getOrElse(Nil)
    val (problems, recalls) = verify(warm ++ served)
    val failed = served.count(_.error.isDefined)
    phase("checks")

    val metrics = if (trace) traced.get._2 else endToEnd(setupS, rounds, recalls, heapMb, storeBytes)
    detail.put("workload", w.name).put("seed", seed).put("seconds", seconds)
      .put("trace", trace).put("cpus", cpus).put("spark_cores", cores)
      .put("rows_loaded", w.rows).put("dim", w.dim)
      .put("rows_visible_at_end", visible)
      .put("heap_max_mb", Runtime.getRuntime.maxMemory() / 1048576)
      .put("steal_s", stealDelta).put("gc_ms", gcDeltaMs)
      .put("measured_wall_s", wallS).put("measured_ops", served.size)
      .put("warmup_ops", warm.size)
      .put("latency_p90_ms", quantile(measured.map(_.ms), 0.9))
    val kinds = detail.putObject("p50_ms_by_kind")
    measured.groupBy(s => kindOf(s.op)).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      kinds.put(s"$k (${ss.size})", median(ss.map(_.ms))) }
    val wm = detail.putArray("warmup_block_medians_ms")
    warmMedians.foreach(wm.add(_))
    val lb = detail.putArray("bulk_load_batch_ms")
    loadLatencies.foreach(lb.add(_))
    val ib = detail.putObject("index_build_s")
    indexBuildS.foreach { case (k, v) => val a = ib.putArray(k); v.foreach(a.add(_)) }
    detail.put("measured_cpu_ms", cpuMs)
    val rw = detail.putArray("round_wall_s")
    rounds.foreach(r => rw.add(r.wallS))
    val rs = detail.putArray("round_steal_s")
    rounds.foreach(r => rs.add(r.stealS))
    val rc = detail.putArray("round_cpu_ms")
    rounds.foreach(r => rc.add(r.cpuMs))
    detail.set[ObjectNode](if (trace) "per_layer" else "end_to_end", metrics)
    val pr = detail.putArray("problems")
    problems.take(50).foreach(pr.add)
    detail.put("problem_count", problems.size)
    val errs = detail.putArray("errors")
    served.flatMap(_.error).distinct.take(20).foreach(errs.add)

    val out = mapper.createObjectNode()
    out.put("correct", problems.isEmpty)
    out.put("attempted", served.size)
    out.put("failed", failed)
    out.set[ObjectNode]("metrics", metrics)
    Files.createDirectories(detailPath.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(detailPath.toFile, detail)
    println(f"[servebench] ${w.name} seed=$seed trace=${if (trace) 1 else 0} ops=${served.size} " +
      f"failed=$failed problems=${problems.size} steal_s=$stealDelta%.2f gc_ms=$gcDeltaMs " +
      f"warmup_ops=${warm.size} detail=$detailPath")
    problems.take(5).foreach(p => println(s"[servebench] problem: $p"))
    mapper.writeValueAsString(out)
  }

  /** `qps` and `cpu_ms_per_request` are taken from the median round (a
    * run repeats one round of requests), so that a burst of host steal or
    * a collection inside one round does not move them. */
  private def endToEnd(setupS: Double, rounds: Seq[Round], recalls: Seq[(Boolean, Double)],
                       heapMb: Double, storeBytes: Long): ObjectNode = {
    val measured = rounds.flatMap(_.samples)
    val lat = measured.map(_.ms)
    val reads = measured.filterNot(_.op.isWrite).map(_.ms)
    val writes = measured.filter(_.op.isWrite)
    val approx = recalls.filter(_._1).map(_._2)
    val recall = if (approx.nonEmpty) approx else recalls.map(_._2)

    val e2e = mapper.createObjectNode()
    put(e2e, "setup_s", setupS, "s", 9)
    put(e2e, "qps", median(rounds.map(r => r.samples.size / r.wallS)), "requests/s", 9)
    put(e2e, "latency_p50_ms", median(lat), "ms", 9)
    put(e2e, "cpu_ms_per_request", median(rounds.map(r => r.cpuMs / r.samples.size)), "ms", 9)
    put(e2e, "read_p50_ms", median(reads), "ms", 9)
    put(e2e, "write_p50_ms",
      if (writes.nonEmpty) median(writes.map(_.ms)) else median(loadLatencies), "ms", 9)
    // rows per second of the median insert (the bulk batches divide the
    // load evenly, and every measured insert has 200 rows)
    put(e2e, "ingest_rows_per_s",
      if (writes.nonEmpty) median(writes.map(s => s.op.asInstanceOf[InsertOp].rids.size / (s.ms / 1000.0)))
      else w.loadBatch / (median(loadLatencies) / 1000.0), "rows/s", 9)
    put(e2e, "index_build_s", indexBuildS.keys.toSeq.map(indexBuildBestS).sum, "s", 9)
    put(e2e, "recall_at_k", if (recall.isEmpty) 1.0 else recall.sum / recall.size, "fraction", 9)
    put(e2e, "store_mb", storeBytes / 1048576.0, "MB", 9)
    put(e2e, "heap_mb", heapMb, "MB", 9)
    e2e
  }

  private def kindOf(op: Op): String = {
    val door = if (op.viaHttp) "http" else "grpc"
    op match {
      case KnnOp(_, _, pred, route, _, _) => s"knn.$door." + (route match {
        case Scan => if (pred.isDefined) "filtered" else "scan"
        case NamedIndex(n, _) => n
        case PlannerHint(h) => s"hint_$h"
      })
      case _: LookupOp => s"lookup.$door"
      case _: CountOp => s"count.$door"
      case _: InsertOp => "insert.grpc"
    }
  }

  // ---- the traced run -----------------------------------------------------

  /** Whole rounds for `ms`, alternating untraced rounds (served requests
    * only, exactly as in an untraced run) with traced rounds. In a traced
    * round the listener is attached, each read is served and then replayed
    * as its direct-call twin, and inserts run as direct calls only. Returns
    * every attempted op (served requests, twins, direct inserts) and the
    * per-layer metrics. */
  private def runTraced(ms: Long): (Seq[Sample], ObjectNode) = {
    val listener = new ExecListener
    val sc = spark.sparkContext
    val tracer = new Tracer(spark, base.toString, w, data, cl)
    var req = 0
    val attempted = ArrayBuffer.empty[Sample]
    val untracedReads = ArrayBuffer.empty[Double]
    val served = ArrayBuffer.empty[(Int, Sample)]
    val responseBytes = ArrayBuffer.empty[Long]
    var gcTracedMs = 0L
    def twin(op: Op): Sample = {
      val startMs = System.currentTimeMillis()
      val (r, tms) = timed(Try(tracer.direct(req, op)))
      Sample(op, tms, startMs, System.currentTimeMillis(), None,
        r.failed.toOption.map(e => s"direct: ${e.getMessage}"))
    }
    def tracedOp(op: Op): Unit = {
      req += 1
      op match {
        case InsertOp(rids) =>
          val s = twin(op)
          if (s.error.isEmpty) visible = rids.end
          attempted += s
        case _ =>
          val s =
            if (op.viaHttp || op.isInstanceOf[CountOp]) send(op)
            else {
              val startMs = System.currentTimeMillis()
              val (r, sms) = timed(Try(cl.sendCounted(op, visible)))
              r.foreach(x => responseBytes += x._2)
              Sample(op, sms, startMs, System.currentTimeMillis(), r.toOption.map(_._1),
                r.failed.toOption.map(e => String.valueOf(e.getMessage)))
            }
          served += req -> s
          attempted += s
          attempted += twin(op)
      }
    }
    val end = System.nanoTime() + ms * 1000000L
    var traced = false
    while (System.nanoTime() < end) {
      val ops = nextRound()
      if (traced) {
        sc.addSparkListener(listener)
        val gc0 = gcMs
        ops.foreach(tracedOp)
        gcTracedMs += gcMs - gc0
        org.apache.spark.servebench.ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      } else ops.map(send).foreach { s =>
        attempted += s
        if (!s.op.isWrite) untracedReads += s.ms
      }
      traced = !traced
    }
    val layers = perLayer(tracer, listener, served.toSeq, responseBytes.toSeq, gcTracedMs,
      untracedReads.toSeq)
    writeSpans(tracer.spans.toSeq)
    (attempted.toSeq, layers)
  }

  private def writeSpans(spans: Seq[Span]): Unit = {
    val p = detailPath.resolveSibling(detailPath.getFileName.toString.stripSuffix(".json") + ".spans.jsonl")
    val out = Files.newBufferedWriter(p)
    try spans.foreach { s =>
      out.write(s"""{"req":${s.req},"name":"${s.name}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      out.newLine()
    } finally out.close()
    detail.put("spans_file", p.toString)
  }

  private def perLayer(t: Tracer, l: ExecListener, served: Seq[(Int, Sample)],
                       responseBytes: Seq[Long], gcDeltaMs: Long, untracedReads: Seq[Double])
  : ObjectNode = {
    val byName = t.spans.groupBy(_.name)
    def p50(name: String): Double = median(byName.getOrElse(name, Nil).map(_.ms).toSeq)
    val direct = byName.getOrElse("request", Nil).map(s => s.req -> s.ms).toMap
    def overhead(http: Boolean): Double = {
      val reqs = served.filter(_._2.op.viaHttp == http)
      if (reqs.isEmpty) 0.0
      else median(reqs.map(_._2.ms)) - median(reqs.flatMap(r => direct.get(r._1)))
    }
    val readReqs = served.map(_._1)
    val jobsByReq = l.jobsTagged(tag => !tag.endsWith("/index.candidates"))
      .groupBy(_.tag.takeWhile(_ != '/').toInt)
    val readJobs = readReqs.map(r => jobsByReq.getOrElse(r, Nil))
    val n = math.max(readJobs.size, 1).toDouble
    val aggs = readJobs.map(l.agg)
    val resultRows = t.results.map(_._2).sum.max(1L)
    val kOf = served.map { case (r, s) => r -> (s.op match { case k: KnnOp => k.k; case _ => 1 }) }.toMap
    val candRatios = t.candidates.map { case (r, c) => c.toDouble / kOf.getOrElse(r, 1) }
    val readCalls = byName.getOrElse("core.read", Nil).size
    val readJobCount = l.jobsTagged(_.endsWith("/core.read")).size
    val servedJobs = served.map { case (_, s) => l.jobsIn(s.startMs, s.endMs).size.toDouble }
    val tracedReads = served.map(_._2.ms)

    val m = mapper.createObjectNode()
    val d = 6
    put(m, "grpc.encode_ms", p50("grpc.encode"), "ms", d)
    put(m, "grpc.response_kb", median(responseBytes.map(_ / 1024.0)), "KB", d)
    put(m, "grpc.overhead_ms", overhead(http = false), "ms", d)
    put(m, "api.http_overhead_ms", overhead(http = true), "ms", d)
    put(m, "api.build_ms", p50("api.build"), "ms", d)
    put(m, "plans.choose_ms", p50("plans.choose"), "ms", d)
    put(m, "plans.catalyst_ms", p50("plans.catalyst"), "ms", d)
    put(m, "core.open_ms", p50("core.open"), "ms", d)
    put(m, "core.read_ms", p50("core.read"), "ms", d)
    put(m, "core.read_jobs", readJobCount.toDouble / math.max(readCalls, 1), "count", d)
    put(m, "core.insert_ms", p50("core.insert"), "ms", d)
    put(m, "core.part_files",
      if (t.partFiles.isEmpty) t.liveParts().toDouble else median(t.partFiles.map(_.toDouble).toSeq), "count", d)
    put(m, "core.vacuums", t.vacuums.toDouble, "count", d)
    put(m, "core.store_bytes_per_user_byte",
      dirBytes(base.resolve(w.entity)).toDouble / userBytes, "ratio", d)
    put(m, "index.load_ms", p50("index.load"), "ms", d)
    put(m, "index.candidates_per_result",
      if (candRatios.isEmpty) 0.0 else median(candRatios.toSeq), "ratio", d)
    put(m, "index.candidates_ms", p50("index.candidates"), "ms", d)
    put(m, "index.build_s.vaf", indexBuildBestS("vaf"), "s", d)
    put(m, "index.build_s.pq", indexBuildBestS("pq"), "s", d)
    put(m, "exec.collect_ms", p50("exec.collect"), "ms", d)
    put(m, "exec.jobs_per_request", readJobs.map(_.size).sum / n, "count", d)
    put(m, "exec.served_jobs_per_request", median(servedJobs), "count", d)
    put(m, "exec.tasks_per_request", aggs.map(_.tasks).sum / n, "count", d)
    put(m, "exec.task_cpu_ms_per_request", aggs.map(_.cpuNs).sum / 1e6 / n, "ms", d)
    put(m, "exec.input_rows_per_result", aggs.map(_.records).sum.toDouble / resultRows, "ratio", d)
    put(m, "exec.input_mb_per_request", aggs.map(_.bytes).sum / 1048576.0 / n, "MB", d)
    put(m, "exec.shuffle_kb_per_request", aggs.map(_.shuffleBytes).sum / 1024.0 / n, "KB", d)
    put(m, "functions.distance_ns_per_row", distanceNsPerRow(), "ns", d)
    put(m, "jvm.gc_ms_per_request", gcDeltaMs.toDouble / math.max(t.spans.count(_.name == "request"), 1), "ms", d)
    put(m, "trace.overhead_ms", median(tracedReads) - median(untracedReads), "ms", d)
    val layers = detail.putObject("span_p50_ms")
    byName.keys.toSeq.sorted.foreach(k => layers.put(k, p50(k)))
    m
  }

  /** Bytes of user data in the visible rows: the attributes as sent. */
  private def userBytes: Double =
    (0 until visible).map(r => 8.0 + data.tag(r).length + 4.0 * w.dim).sum

  /** The distance kernel alone: over the cached entity, an aggregate of
    * 32 query distances per row less the same aggregate without them,
    * per distance evaluated. */
  private def distanceNsPerRow(): Double = {
    import org.apache.spark.sql.functions.{col, lit, sum}
    import graft.functions.Distances
    val df = Entity.open(spark, base.toString, w.entity).read().select(col("vec")).persist()
    try {
      val rows = df.count()
      val qs = (0 until 32).map(i => Distances.vecLit(data.vec(i).map(_.toDouble).toSeq))
      val withDist = df.agg(qs.map(q => sum(Distances.euclidean(col("vec"), q))).reduce(_ + _))
      val without = df.agg(sum(lit(1.0)))
      def best(agg: org.apache.spark.sql.DataFrame) = median((1 to 5).map(_ => timed(agg.collect())._2))
      math.max(best(withDist) - best(without), 0.0) * 1e6 / (rows * qs.size)
    } finally df.unpersist(blocking = true)
  }
}
