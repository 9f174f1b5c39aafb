package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all suites (mirrors the reference's
  * single shared session in `AdamTestBase.scala:28-30`). */
object SharedSpark {
  /** This run's scratch root, `target/graft-test-runs/run*`: every spec's
    * throwaway entity stores, exports and checkpoints go under it, not
    * into `java.io.tmpdir`, and it is deleted when the test JVM exits. */
  lazy val runDir: java.nio.file.Path = {
    val root = java.nio.file.Paths.get("target", "graft-test-runs").toAbsolutePath
    java.nio.file.Files.createDirectories(root)
    val d = java.nio.file.Files.createTempDirectory(root, "run")
    Runtime.getRuntime.addShutdownHook(new Thread(() => graft.core.Entity.deleteRecursively(d)))
    d
  }

  /** A fresh directory under [[runDir]]. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(runDir, prefix)

  // bucketed catalog tables (PlannerSpec's co-located joins) land under
  // target/, not in the working directory
  lazy val spark: SparkSession =
    graft.core.GraftSession.builder("local[4]", 4).appName("graft-test")
      .config("spark.sql.warehouse.dir",
        new java.io.File("target/graft-warehouse").getAbsolutePath)
      .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = {
    val s = SharedSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Epsilon = 1e-4 // reference AdamTestBase.scala:35
}
