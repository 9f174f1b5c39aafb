package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The driver's `events.parquet` has shipped three different `ts`
  * encodings across rounds: TIMESTAMP(NANOS) read as Long under
  * `nanosAsLong`, TIMESTAMP(MICROS) adjusted-to-UTC (Spark TIMESTAMP),
  * and TIMESTAMP(MICROS) unadjusted (Spark TIMESTAMP_NTZ — the r12
  * regeneration that silently knocked three queries out of the
  * correctness battery, `unix_micros` rejects NTZ). Every event query
  * must produce byte-identical results from all three. */
class EventTimestampSpec extends SparkSpec {

  private val EventQueries = Seq(
    "event_sessions", "event_attribution", "event_attribution_unmatched",
    "events_hourly", "event_session_windows", "stream_windowed_counts")

  test("event queries are insensitive to the events ts encoding") {
    import spark.implicits._
    // 3 users × interleaved click/purchase chains: some purchases inside
    // the 30-minute attribution window, some outside, some users with no
    // purchase at all — exercises match, no-match, and session splits
    val baseMicros = 1700000000000000L // stable epoch anchor
    val rows = (0 until 60).map { i =>
      val user = i % 3
      val stepMin = if (i % 7 == 0) 45L else 10L // >30 min gap sometimes
      val ts = baseMicros + (i / 3) * stepMin * 60L * 1000000L + user * 17L * 1000000L
      val etype = if (i % 4 == 3) "purchase" else "click"
      (i.toLong, ts, user.toLong, etype, i * 1.5, "{}")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")

    def writeDir(f: DataFrame => DataFrame): String = {
      val dir = SharedSpark.tempDir("graft-evts").toString
      f(rows).select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val asTimestamp = writeDir(_.withColumn("ts", timestamp_micros(col("ts_us"))))
    val asNtz = writeDir(_.withColumn("ts",
      timestamp_micros(col("ts_us")).cast("timestamp_ntz")))
    val asLongNanos = writeDir(_.withColumn("ts", col("ts_us") * 1000L))

    // the parquet files really carry the three distinct physical types
    spark.read.parquet(s"$asTimestamp/events.parquet").schema("ts").dataType.typeName shouldBe "timestamp"
    spark.read.parquet(s"$asNtz/events.parquet").schema("ts").dataType.typeName shouldBe "timestamp_ntz"
    spark.read.parquet(s"$asLongNanos/events.parquet").schema("ts").dataType.typeName shouldBe "long"

    EventQueries.foreach { q =>
      def run(dir: String): Seq[String] =
        SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq
      val expected = run(asTimestamp)
      expected should not be empty
      withClue(s"$q on TIMESTAMP_NTZ input: ") { run(asNtz) shouldBe expected }
      withClue(s"$q on Long-nanos input: ") { run(asLongNanos) shouldBe expected }
    }

    Seq(asTimestamp, asNtz, asLongNanos).foreach(d =>
      graft.core.Entity.deleteRecursively(java.nio.file.Paths.get(d)))
  }
}
