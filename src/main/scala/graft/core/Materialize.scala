package graft.core

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Eager materialization with lineage truncation — the one primitive
  * behind every "compute the expensive relation ONCE, then let N
  * consumers re-read it" shape (winnow/minhash pair relations, the
  * connected-components iteration frontier, the bigram multiplicities
  * table).
  *
  * Mode is decided by the session, not the operator:
  *
  *  - **Reliable** (`df.checkpoint(eager = true)`) when
  *    `sparkContext.setCheckpointDir(...)` has been called — blocks are
  *    written to the (typically HDFS/object-store) checkpoint dir, so on
  *    a real cluster an executor loss recomputes nothing and loses
  *    nothing. This is the 100 TB mode: set a checkpoint dir in any
  *    multi-executor deployment — AND set
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  *    ([[GraftSession]] does): without it Spark never deletes reliable
  *    checkpoint files, so per-iteration call sites (the
  *    connected-components frontier, per-batch corpus extension)
  *    accumulate unbounded files in the checkpoint dir. With it the
  *    ContextCleaner removes each checkpoint's files when the frame is
  *    garbage-collected, the same lifecycle the cached blocks follow.
  *  - **Local** (`df.localCheckpoint(eager = true)`) otherwise — blocks
  *    live in executor storage (MEMORY_AND_DISK), which is faster but
  *    NOT fault-tolerant: an executor loss makes the frame
  *    unrecoverable mid-query. Correct for `local[*]` (single JVM —
  *    executor loss is process death) and for clusters that accept
  *    job-retry-on-loss semantics.
  *
  * Operators that persist-then-release a SIDE relation (cache + explicit
  * `unpersist` after the checkpoint) keep that discipline; this helper
  * only decides where the checkpointed blocks go.
  */
object Materialize {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Drop the storage blocks behind a frame returned by [[apply]], for
    * call sites that SUPERSEDE materializations inside a loop (the
    * connected-components label iteration): a local checkpoint persists
    * its RDD at MEMORY_AND_DISK, and the ContextCleaner only frees those
    * blocks after the JVM happens to GC the frame — per-iteration
    * checkpoints therefore accumulate storage (and the memory pressure
    * measurably slows REPEATED calls within one session) unless the
    * superseded frames are released eagerly. No-op for frames that are
    * not local checkpoints; reliable checkpoint FILES stay governed by
    * `spark.cleaner.referenceTracking.cleanCheckpoints`.
    *
    * Precondition: no lazy derivation of `df` is evaluated after this
    * call. A local checkpoint's blocks are its ONLY copy of the data (the
    * lineage is cut), so a frame derived from `df` and run afterwards
    * fails at action time with no way to recompute. Release a frame only
    * once everything built on it has been computed or materialized. A
    * failure to release is logged, never thrown: the blocks then stay
    * until the ContextCleaner frees them. */
  private[graft] def release(df: DataFrame): Unit =
    try {
      df.queryExecution.analyzed.collectLeaves().foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          if (l.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
            l.rdd.unpersist(blocking = false)
        case _ => ()
      }
    } catch {
      case NonFatal(e) =>
        log.warn(s"could not release the blocks of materialized frame $df: $e")
    }

  /** `import graft.core.Materialize.Ops` for `df.materialized`. */
  implicit class Ops(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Materialize(df)
  }
}
