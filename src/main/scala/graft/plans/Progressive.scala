package graft.plans

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.{ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Progressive / parallel / timed multi-plan execution — the reference's
  * `ParallelQueryHandler.scala:37-139`, `TimedScanExpression.scala:19-67`:
  * launch every candidate plan concurrently (one Spark job group each,
  * racing on the fair scheduler), surface each completion as a
  * `ProgressiveObservation`, and for timed queries return the
  * best-confidence result available at the deadline, cancelling the
  * rest via job-group cancel (`DataQuery.scala:412-417`).
  */
object Progressive {

  final case class Observation(planDescription: String, confidence: Double,
                               timeNanos: Long, result: Try[Array[Row]])

  final case class PlanSpec(description: String, confidence: Double,
                            run: () => DataFrame, rows: Long = 0L)

  /** Every completed plan execution trains the empirical planner: the
    * measured wall time plus the plan's confidence (the exactness proxy
    * the reference also scores by) and the corpus size land in
    * [[Planner]]'s measured-cost table, so `EmpiricalHint`/`LearnedHint`
    * choices improve as queries run. */
  private def record(p: PlanSpec, o: Observation): Unit =
    if (o.result.isSuccess)
      Planner.record(o.planDescription,
        Planner.Measurement(o.timeNanos, o.confidence, p.rows))

  private val races = new java.util.concurrent.atomic.AtomicLong()

  /** A job-group prefix no other race in this JVM uses, so a race that
    * cancels its own groups never reaches a concurrent race's legs. */
  def newGroupPrefix(): String = s"graft-race${races.incrementAndGet()}-"

  /** Launch all plans; invoke `onNext` per completion; return all
    * observations once every plan finishes.
    *
    * `groupPrefix` names the Spark job groups (`<prefix><description>`) —
    * a wire front door passes a per-query prefix so `stopQuery(queryid)`
    * can cancel exactly this run's groups (reference
    * `DataQuery.scala:412-417` cancels by job id). */
  def parallel(spark: SparkSession, plans: Seq[PlanSpec],
               groupPrefix: String = newGroupPrefix())
              (onNext: Observation => Unit = _ => ())
              (implicit ec: ExecutionContext): Seq[Observation] = {
    val obs = new ConcurrentLinkedQueue[Observation]()
    val latch = new CountDownLatch(plans.size)
    plans.foreach { p =>
      Future {
        // the latch MUST count down whatever happens — a throwing
        // caller callback (e.g. a streaming client that disconnected
        // mid-write) would otherwise wedge latch.await() forever
        try {
          spark.sparkContext.setJobGroup(s"$groupPrefix${p.description}",
            s"progressive plan ${p.description}", interruptOnCancel = true)
          val t0 = System.nanoTime()
          val r = Try(p.run().collect())
          val o = Observation(p.description, p.confidence, System.nanoTime() - t0, r)
          spark.sparkContext.clearJobGroup()
          record(p, o)
          obs.add(o)
          Try(onNext(o))
        } finally latch.countDown()
      }
    }
    latch.await()
    import scala.jdk.CollectionConverters._
    obs.asScala.toSeq
  }

  /** Timed query: best (highest-confidence, then fastest) successful
    * result available within the deadline; remaining job groups are
    * cancelled. Falls back to awaiting the FIRST completion if nothing
    * lands in time (the reference blocks on at least one result).
    *
    * Early return: as soon as a SUCCESSFUL plan at the race's maximum
    * confidence completes, the deadline wait ends and the remaining
    * legs are cancelled — confidence is the primary winner sort key, so
    * no still-running plan can displace it (equal-confidence plans are
    * interchangeable in exactness; only the measured time differs).
    * This keeps an exact-plan race paced by its FASTEST exact leg, not
    * by the slowest approximate straggler. Job groups are named as in
    * [[parallel]]. */
  def timed(spark: SparkSession, plans: Seq[PlanSpec], deadlineMs: Long,
            groupPrefix: String = newGroupPrefix())
           (implicit ec: ExecutionContext): Observation = {
    val obs = new ConcurrentLinkedQueue[Observation]()
    val first = new CountDownLatch(1)
    val all = new CountDownLatch(plans.size)
    val maxConf = plans.map(_.confidence).max
    val waiter = new Object
    // Plans still queued in the ExecutionContext when the deadline fires
    // must not start afterwards — cancelJobGroup only reaches RUNNING
    // jobs, so a queued future would otherwise run to completion with
    // its result discarded.
    val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
    plans.foreach { p =>
      Future {
        if (cancelled.get()) {
          all.countDown()
        } else try {
          spark.sparkContext.setJobGroup(s"$groupPrefix${p.description}",
            s"timed plan ${p.description}", interruptOnCancel = true)
          val t0 = System.nanoTime()
          val r = Try(p.run().collect())
          val o = Observation(p.description, p.confidence, System.nanoTime() - t0, r)
          obs.add(o)
          spark.sparkContext.clearJobGroup()
          record(p, o)
        } finally {
          first.countDown()
          all.countDown()
          waiter.synchronized(waiter.notifyAll())
        }
      }
    }
    def sufficientDone: Boolean = {
      import scala.jdk.CollectionConverters._
      obs.asScala.exists(o => o.result.isSuccess && o.confidence >= maxConf)
    }
    // remaining time tracked in ms-space (deadline − elapsed) so a
    // huge client-supplied deadline (e.g. Long.MaxValue "unbounded")
    // cannot overflow a nano-space deadline into the past
    val t0 = System.nanoTime()
    waiter.synchronized {
      var remainingMs = deadlineMs
      while (all.getCount > 0 && !sufficientDone && remainingMs > 0) {
        waiter.wait(remainingMs)
        remainingMs = deadlineMs - (System.nanoTime() - t0) / 1000000L
      }
    }
    if (obs.isEmpty) first.await()
    cancelled.set(true)
    plans.foreach(p => spark.sparkContext.cancelJobGroup(s"$groupPrefix${p.description}"))
    import scala.jdk.CollectionConverters._
    val done = obs.asScala.toSeq.filter(_.result.isSuccess)
    if (done.nonEmpty) done.maxBy(o => (o.confidence, -o.timeNanos))
    else obs.asScala.toSeq.head
  }
}

/** Query-result cache keyed by a caller-provided fingerprint — the
  * reference's `CacheExpression.scala:15-46` + `CacheManager`. LRU with
  * a fixed capacity; entries are persisted DataFrames. */
class ResultCache(capacity: Int = 100) {
  private val lru = new java.util.LinkedHashMap[String, DataFrame](capacity, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, DataFrame]): Boolean = {
      val evict = this.size() > capacity
      if (evict) Try(e.getValue.unpersist())
      evict
    }
  }

  def getOrElseCompute(key: String)(compute: => DataFrame): DataFrame = synchronized {
    Option(lru.get(key)) match {
      case Some(df) => df
      case None =>
        val df = compute.persist()
        lru.put(key, df)
        df
    }
  }

  def invalidate(key: String): Unit = synchronized {
    Option(lru.remove(key)).foreach(df => Try(df.unpersist()))
  }

  def size: Int = synchronized(lru.size())
}
