package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites (one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"
  def sf(name: String): String = s"$sfDir/$name.parquet"

  /** A fresh temp dir under the process's scratch root, so it goes when
    * the JVM exits; every spec call site routes through here. */
  def tempDir(prefix: String): java.nio.file.Path = SparkSpec.tempDir(prefix)
}

object SparkSpec {
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(GraftSession.scratch("test")), prefix)

  /** The factory's default conf (local[4], 4 partitions, UTC, UI off, the
    * per-process warehouse), independent of the caller's environment. */
  lazy val session: SparkSession = {
    val s = GraftSession.settings(_ => None)
      .foldLeft(SparkSession.builder().appName("graft-test")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
