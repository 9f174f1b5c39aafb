package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Vertical
import graft.sources.StorageHandlers

/** Vertical partitioning: per-attribute handler assignment + PK-join
  * reassembly (reference `Entity.scala:91-110`). */
class VerticalSpec extends SparkSpec {

  import spark.implicits._

  private lazy val df = (1L to 100L)
    .map(i => (i, s"name_$i", i * 1.5, i % 7))
    .toDF("pk", "nm", "price", "grp")

  private def groups = Seq(
    Vertical.Group("meta", Seq("nm", "grp")),
    Vertical.Group("money", Seq("price"), StorageHandlers("orc")))

  test("write groups through different handlers and reassemble by pk join") {
    val base = SharedSpark.tempDir("graft-vert").toString
    Vertical.write(df, "pk", groups, base, numPartitions = 4)
    val back = Vertical.read(spark, "pk", groups, base)
    back.count() shouldBe 100
    back.columns.toSet shouldBe Set("pk", "nm", "grp", "price")
    back.filter(col("pk") === 42L).head().getAs[Double]("price") shouldBe 63.0
  }

  test("attribute-pruned read never opens unneeded groups") {
    val base = SharedSpark.tempDir("graft-vert2").toString
    Vertical.write(df, "pk", groups, base)
    // destroy the money group: a pruned read of meta attrs must not touch it
    StorageHandlers("orc").drop(spark, s"$base/group_money")
    val metaOnly = Vertical.read(spark, "pk", groups, base, Seq("nm"))
    metaOnly.count() shouldBe 100
    metaOnly.columns.toSet shouldBe Set("pk", "nm")
  }

  test("double assignment and pk-in-group are rejected") {
    val bad = Seq(Vertical.Group("a", Seq("nm")), Vertical.Group("b", Seq("nm")))
    an[IllegalArgumentException] should be thrownBy
      Vertical.write(df, "pk", bad, SharedSpark.tempDir("x").toString)
    an[IllegalArgumentException] should be thrownBy
      Vertical.write(df, "pk", Seq(Vertical.Group("a", Seq("pk", "nm"))),
        SharedSpark.tempDir("y").toString)
  }
}
