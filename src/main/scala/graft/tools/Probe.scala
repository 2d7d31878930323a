package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, Entry, GraftSession, Outcome, Runner, SparkEntry}

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
  *  - `run`: times each query the way Bench does. One untimed
  *    `Bench.materialize` of every named query first (plus a count for
  *    the `rows=` figure), then n rounds (default 3) that each time one
  *    rep of every query in turn (q1 r1, q2 r1, q1 r2, …), so no query
  *    alone carries the JVM's warm-up. A rep is construct plus
  *    `Bench.materialize`: the query is rebuilt per rep and every output
  *    column is hashed. A bare count() would prune columns and drop the
  *    final sort, so it would time a cheaper plan than the bench does. A
  *    query whose untimed pass fails gets no reps.
  *  - `index`: prints the registry as markdown rows (query | oracle-backed?)
  *    and needs no session.
  *
  * Every query runs through [[Runner]], so each starts from an empty cache.
  * A query that fails prints `query=<name> failed: <msg>` to stderr and the
  * run goes on; Probe then exits with status 1. Unknown query names fail
  * before a session starts. */
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
        val entries = names.map(n => Entry(n, SparkEntry.queries(n)))
        val n = rest.headOption.map(_.toInt)
        val spark = GraftSession.build(s"graft-probe-$cmd")
        val outcomes = try cmd match {
          case "plan" => plan(spark, sfDir, entries, flag("out"), flag("suffix").getOrElse(""))
          case "time" => time(spark, sfDir, entries, n.getOrElse(3))
          case "show" => show(spark, sfDir, entries, n.getOrElse(50))
          case "run" => run(spark, sfDir, entries, n.getOrElse(3))
        } finally spark.stop()
        if (outcomes.exists(_.result.isLeft)) sys.exit(1)
      case _ => fail(usage)
    }
  }

  private def fail(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }

  /** Runs `e` through [[Runner]]; a failure is printed to stderr. */
  private def runRow[A](spark: SparkSession, sfDir: String, e: Entry)(
      act: DataFrame => A): Outcome[A] = {
    val o = Runner.run(spark, sfDir, e)(act)
    o.result.left.foreach(err => System.err.println(s"query=${e.name} failed: ${err.getMessage}"))
    o
  }

  private def plan(spark: SparkSession, sfDir: String, entries: Seq[Entry],
      outDir: Option[String], suffix: String): Seq[Outcome[_]] =
    entries.map { e =>
      println(s"== ${e.name} @ $sfDir")
      // the plans are rendered inside the action, while the row's
      // persisted frames are still cached and so planned as cache scans
      val o = runRow(spark, sfDir, e) { df =>
        val qe = df.queryExecution
        (qe.executedPlan.toString, outDir.map(_ => qe.explainString(FormattedMode)))
      }
      o.result.foreach { case (p, explain) =>
        println(p)
        for (d <- outDir; x <- explain) {
          Files.createDirectories(Paths.get(d))
          Files.writeString(Paths.get(d, s"${e.name}$suffix.txt"), x)
        }
      }
      o
    }

  private def time(spark: SparkSession, sfDir: String, entries: Seq[Entry], reps: Int): Seq[Outcome[_]] = {
    // one throwaway plan absorbs first-touch rule and codegen classloading
    spark.range(10).selectExpr("sum(id)").queryExecution.executedPlan
    for (e <- entries; r <- 1 to reps) yield {
      val o = runRow(spark, sfDir, e)(_.queryExecution.executedPlan)
      if (o.result.isRight)
        println(f"plantime query=${e.name} rep=$r construct=${o.constructS * 1e6}%.0fus " +
          f"plan=${o.actS * 1e6}%.0fus")
      o
    }
  }

  private def show(spark: SparkSession, sfDir: String, entries: Seq[Entry], rows: Int): Seq[Outcome[_]] =
    entries.map { e =>
      println(s"== ${e.name} @ $sfDir")
      runRow(spark, sfDir, e)(_.show(rows, false))
    }

  private def run(spark: SparkSession, sfDir: String, entries: Seq[Entry], reps: Int): Seq[Outcome[_]] = {
    val warm = entries.map(e => e -> runRow(spark, sfDir, e) { df =>
      Bench.materialize(df)
      df.count()
    })
    val ok = warm.collect { case (e, Outcome(_, _, _, Right(n))) => (e, n) }
    val timed = for (r <- 1 to reps; (e, n) <- ok) yield {
      val o = runRow(spark, sfDir, e)(Bench.materialize)
      if (o.result.isRight)
        println(f"query=${e.name} run=$r rows=$n sec=${o.constructS + o.actS}%.2f")
      o
    }
    warm.map(_._2) ++ timed
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
