package graft

import org.apache.spark.sql.functions._
import graft.core.Materialize

/** The eager lineage-truncation primitive: local mode without a
  * checkpoint dir uses localCheckpoint (executor storage); with a
  * configured dir it writes RELIABLE checkpoints (the multi-executor
  * mode an executor loss survives). Both must return the same rows and
  * a plan decoupled from the input lineage. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def df = spark.range(100)
    .select(col("id"), (col("id") * 2).as("v"))

  test("without a checkpoint dir: eager local checkpoint, same rows") {
    spark.sparkContext.getCheckpointDir shouldBe empty
    val m = Materialize(df)
    m.as[(Long, Long)].collect().sortBy(_._1) shouldBe
      (0L until 100L).map(i => (i, i * 2)).toArray
    // lineage is truncated: the plan reads a scan of materialized rows,
    // not the original range
    val plan = m.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Range"), plan)
  }

  test("with a checkpoint dir: RELIABLE checkpoint files land in it") {
    val dir = SharedSpark.tempDir("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val m = Materialize(df)
      m.count() shouldBe 100L
      // the reliable mode writes RDD checkpoint data under the dir
      def walkCount(p: java.io.File): Int =
        if (p.isDirectory) p.listFiles().map(walkCount).sum else 1
      walkCount(new java.io.File(dir)) should be > 0
      // and the frame still reads back correctly after the fact
      m.agg(sum("v")).as[Long].head() shouldBe (0L until 100L).map(_ * 2).sum
    } finally {
      // unset so later suites (and the shared session) see local mode
      org.apache.spark.graft.TestBridge.clearCheckpointDir(spark.sparkContext)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("the .materialized extension is the same operation") {
    import Materialize.Ops
    df.materialized.count() shouldBe 100L
  }
}
