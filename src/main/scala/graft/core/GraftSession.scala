package graft.core

import org.apache.spark.sql.SparkSession

/** Single source of truth for session tuning, shared by Bench, Verify,
  * Plans, and the test harness — the executed plans and the asserted
  * plans must come from the SAME optimizer configuration. Mirrors the
  * reference's session setup (`SparkStartup.scala:21-39`): Kryo and a
  * 50 MB broadcast-join window. AQE is on by default in Spark 4. */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 50L * 1024 * 1024)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // reliable checkpoints (Materialize's cluster mode) are otherwise
      // never deleted — per-iteration materializations would accumulate
      // unbounded files in the checkpoint dir; with this the
      // ContextCleaner removes a checkpoint's files once the frame is
      // GC'd, the lifecycle cached blocks already follow
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
}
