package graft

/** Replicates the driver's t1 smoke check: build a fresh session from
  * [[GraftSession]], run [[SparkEntry.entry]], require rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-smoke")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"entry_rows=$n cols=${df.columns.mkString(",")}")
    println(s"entry_sample=${df.take(3).mkString(" | ")}")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
