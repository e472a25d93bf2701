package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM under Test/fork): the production
  * [[GraftSession]] at a fixed width of 4, so tests plan what Bench and
  * Verify run. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cpus = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf001 = "/root/testdata/sf0.001"

  /** Runs `body` on a fresh directory `java.io.tmpdir/<prefix><random>` and
    * deletes it, with everything written under it, when `body` ends, pass
    * or fail. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.getPath)
    finally FileUtils.deleteQuietly(dir)
  }

  /** Runs `body` with the context's reliable-checkpoint directory set to a
    * fresh [[withTempDir]]. The context has no way to unset it, so it keeps
    * naming the deleted directory until the next call; putting back the
    * previous one instead would re-create it under a temp root that its
    * own test has already deleted. */
  def withCheckpointDir[T](body: String => T): T = withTempDir("graft-ckpt") { dir =>
    spark.sparkContext.setCheckpointDir(dir)
    body(dir)
  }
}
