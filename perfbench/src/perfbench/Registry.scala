package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

import graft.{Bench, SparkEntry}

/** The registry floor: a fixed subset of registry rows, each built with
  * `SparkEntry.queries(name)` and run with `Bench.materialize`. */
object Registry {

  /** One subset row: its name and the `bit_xor(xxhash64(struct(*)))` of its
    * output recorded at a known-good commit. */
  final case class Row(name: String, expected: Long)

  final case class Timing(name: String, constructS: Double, execS: Double, ok: Boolean) {
    def seconds: Double = constructS + execS
  }

  /** Reads `name<TAB>expected-hash` lines; `#` starts a comment. */
  def load(tsv: Path): Vector[Row] =
    Files.readAllLines(tsv, UTF_8).asScala.toVector
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); Row(f(0), f(1).toLong) }

  /** Output hash of a frame: the same reduction Bench.materialize runs,
    * with its one value returned. */
  def outputHash(df: DataFrame): Long = {
    val r = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(expr("bit_xor(h)")).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** One timed pass in the given order. A row that throws is timed to the
    * failure and marked not ok. */
  def pass(spark: SparkSession, names: Seq[String], sfDir: String, tr: Tracer): Vector[Timing] =
    tr.span("registry") {
      names.toVector.map { n =>
        tr.span(n) {
          val t0 = System.nanoTime()
          var t1 = t0
          val ok =
            try {
              val df = SparkEntry.queries(n)(spark, sfDir)
              t1 = System.nanoTime()
              Bench.materialize(df)
              true
            } catch { case e: Exception =>
              System.err.println(s"registry row $n failed: $e")
              false
            }
          val t2 = System.nanoTime()
          spark.catalog.clearCache()
          if (t1 == t0) t1 = t2
          Timing(n, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok)
        }
      }
    }

  /** Hash of each row's output (None when the row throws). */
  def hashes(spark: SparkSession, names: Seq[String], sfDir: String): Vector[Option[Long]] =
    names.toVector.map { n =>
      try Some(outputHash(SparkEntry.queries(n)(spark, sfDir)))
      catch { case e: Exception =>
        System.err.println(s"registry row $n failed: $e")
        None
      } finally spark.catalog.clearCache()
    }

  /** (Exchanges, CodegenFallback expressions) in a frame's physical plan. */
  def planShape(df: DataFrame): (Int, Int) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    (all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.map(_.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum).sum)
  }
}
