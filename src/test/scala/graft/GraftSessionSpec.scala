package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's settings, read from its settings function so no
  * second session is built, plus source guards that keep every main on the
  * factory and every scratch write under its per-process root. */
class GraftSessionSpec extends AnyFunSuite {

  private def settings(env: (String, String)*): Map[String, String] =
    GraftSession.settings(env.toMap.get)

  test("factory defaults: local[4], 4 shuffle partitions, UTC, UI off") {
    assert(settings() == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> GraftSession.scratch("warehouse")))
  }

  test("SPARK_GRAFT_CPUS sizes the local master and the shuffle partitions together") {
    val s = settings("SPARK_GRAFT_CPUS" -> "32")
    assert(s("spark.master") == "local[32]")
    assert(s("spark.sql.shuffle.partitions") == "32")
  }

  test("SPARK_MASTER replaces the master; partitions still follow SPARK_GRAFT_CPUS") {
    val s = settings("SPARK_MASTER" -> "spark://host:7077", "SPARK_GRAFT_CPUS" -> "8")
    assert(s("spark.master") == "spark://host:7077")
    assert(s("spark.sql.shuffle.partitions") == "8")
    assert(s("spark.sql.session.timeZone") == "UTC")
  }

  /** Code lines of every main source, with comment lines and trailing line
    * comments dropped (scaladoc may name the builder). */
  private def codeLines: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.flatMap { f =>
      Files.readAllLines(f).asScala.map(_.trim)
        .filterNot(l => l.startsWith("//") || l.startsWith("/*") || l.startsWith("*"))
        .map(l => f -> l.replaceAll("\\s//.*$", ""))
    } finally walk.close()
  }

  test("only GraftSession builds a session or reads SPARK_GRAFT_CPUS / SPARK_MASTER") {
    val strays = codeLines.collect {
      case (f, l) if f.getFileName.toString != "GraftSession.scala" &&
          (l.contains("SparkSession.builder(") || l.contains("SPARK_GRAFT_CPUS") ||
            l.contains("SPARK_MASTER")) => s"$f: $l"
    }
    assert(strays.isEmpty, strays.mkString("\n"))
    assert(codeLines.count(_._2.contains("SparkSession.builder(")) == 1)
  }

  test("only GraftSession reads java.io.tmpdir or adds a shutdown hook") {
    val strays = codeLines.collect {
      case (f, l) if f.getFileName.toString != "GraftSession.scala" &&
          (l.contains("java.io.tmpdir") || l.contains("addShutdownHook")) => s"$f: $l"
    }
    assert(strays.isEmpty, strays.mkString("\n"))
  }
}
