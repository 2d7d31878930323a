package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** One registry row's run: the seconds spent building its frame, the
  * seconds spent in the caller's action on it, and the action's result or
  * the failure that stopped the row. A build that throws has `actS` 0. */
final case class Outcome[A](name: String, constructS: Double, actS: Double,
    result: Either[Throwable, A])

/** The one loop body every registry consumer (Bench, Verify, Probe) runs a
  * row through: build the row, act on it, catch a non-fatal failure, and
  * clear the cache. The clear is [[SparkEntry.registry]]'s cache contract:
  * a row's persisted frames are released after its action, whether it
  * failed or not, so the next row starts from an empty cache. */
object Runner {
  def run[A](spark: SparkSession, sfDir: String, entry: Entry)(act: DataFrame => A): Outcome[A] = {
    val t0 = System.nanoTime()
    var t1 = -1L // set once the build returns
    def secs(from: Long, to: Long): Double = (to - from) / 1e9
    try {
      val df = entry.build(spark, sfDir)
      t1 = System.nanoTime()
      val a = act(df)
      Outcome(entry.name, secs(t0, t1), secs(t1, System.nanoTime()), Right(a))
    } catch { case NonFatal(e) =>
      val t2 = System.nanoTime()
      val built = if (t1 < 0) t2 else t1
      Outcome(entry.name, secs(t0, built), secs(built, t2), Left(e))
    } finally spark.catalog.clearCache()
  }
}
