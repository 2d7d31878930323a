package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, GraftSession, SparkEntry}

/** Builder-side probe of named registry queries (not part of the engine
  * surface). One grammar serves every subcommand:
  *
  *   Probe <plan|time|show|run> <sfDir> <q1,q2,...> [n]
  *   Probe index
  *
  *  - `plan`: prints each query's executed plan. With `--out=<dir>`
  *    (and optionally `--suffix=<sfx>`) it also writes the formatted
  *    explain to `<dir>/<name><sfx>.txt`, the plans/rNN evidence files.
  *  - `time`: constructs and plans each query n times (default 3) and
  *    prints the construct and planning µs. No job runs, so this separates
  *    "the plan is expensive to make" from "the plan is expensive to run".
  *  - `show`: prints up to n rows (default 50) of each result.
  *  - `run`: times each query the way Bench does. One untimed warm count,
  *    one cache clear (the bench enters a query's reps with an empty
  *    cache), then n reps (default 3) of `Bench.materialize(fn(...))`:
  *    the query is rebuilt per rep and every output column is hashed. A
  *    bare count() would prune columns and drop the final sort, so it
  *    would time a cheaper plan than the bench does.
  *  - `index`: prints the registry as markdown rows (query | oracle-backed?)
  *    and needs no session.
  *
  * Unknown query names fail before a session starts. */
object Probe {
  private val usage = "usage: Probe <plan|time|show|run> <sfDir> <q1,q2,...> [n] " +
    "[--out=<dir>] [--suffix=<sfx>]\n       Probe index"

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.toSeq.partition(_.startsWith("--"))
    def flag(k: String): Option[String] =
      flags.find(_.startsWith(s"--$k=")).map(_.stripPrefix(s"--$k="))
    pos match {
      case Seq("index") => index()
      case Seq(cmd @ ("plan" | "time" | "show" | "run"), sfDir, qs, rest @ _*)
          if rest.size <= 1 =>
        val names = qs.split(",").toSeq
        val unknown = names.filterNot(SparkEntry.queries.contains)
        if (unknown.nonEmpty) fail(s"not in the registry: ${unknown.mkString(",")}")
        val n = rest.headOption.map(_.toInt)
        val spark = GraftSession.build(s"graft-probe-$cmd")
        try cmd match {
          case "plan" => plan(spark, sfDir, names, flag("out"), flag("suffix").getOrElse(""))
          case "time" => time(spark, sfDir, names, n.getOrElse(3))
          case "show" => show(spark, sfDir, names, n.getOrElse(50))
          case "run" => run(spark, sfDir, names, n.getOrElse(3))
        } finally spark.stop()
      case _ => fail(usage)
    }
  }

  private def fail(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }

  private def plan(spark: SparkSession, sfDir: String, names: Seq[String],
      outDir: Option[String], suffix: String): Unit =
    for (name <- names) {
      println(s"== $name @ $sfDir")
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      println(qe.executedPlan.toString)
      outDir.foreach { d =>
        Files.createDirectories(Paths.get(d))
        Files.writeString(Paths.get(d, s"$name$suffix.txt"), qe.explainString(FormattedMode))
      }
      spark.catalog.clearCache()
    }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int): Unit = {
    // one throwaway plan absorbs first-touch rule and codegen classloading
    spark.range(10).selectExpr("sum(id)").queryExecution.executedPlan
    for (name <- names; r <- 1 to reps) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      println(f"plantime query=$name rep=$r construct=${(t1 - t0) / 1e3}%.0fus " +
        f"plan=${(t2 - t1) / 1e3}%.0fus")
      spark.catalog.clearCache()
    }
  }

  private def show(spark: SparkSession, sfDir: String, names: Seq[String], rows: Int): Unit =
    for (name <- names) {
      println(s"== $name @ $sfDir")
      SparkEntry.queries(name)(spark, sfDir).show(rows, false)
      spark.catalog.clearCache()
    }

  private def run(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int): Unit =
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val n = fn(spark, sfDir).count()
      spark.catalog.clearCache()
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        Bench.materialize(fn(spark, sfDir))
        println(f"query=$name run=$r rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
      spark.catalog.clearCache()
    }

  private def index(): Unit = {
    val (os, rowsOnly) = SparkEntry.registry.partition(_.oracle.isDefined)
    SparkEntry.registry.sortBy(_.name.drop(1).takeWhile(_.isDigit).toInt).foreach { e =>
      println(s"| ${e.name} | ${if (e.oracle.isDefined) "oracle" else "rows-only"} |")
    }
    println(s"total=${SparkEntry.registry.size} oracle=${os.size} rowsOnly=${rowsOnly.size}")
    println("rows-only: " + rowsOnly.map(_.name).sorted.mkString(", "))
  }
}
