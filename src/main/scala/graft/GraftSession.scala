package graft

import org.apache.spark.sql.SparkSession

/** The one session factory every main goes through, so no two entry points
  * drift apart in cores, partitions or time zone. Two environment settings
  * reach it, both read here and nowhere else:
  *
  *  - `SPARK_GRAFT_CPUS`: local worker cores, default 4 (the driver-contract
  *    value); shuffle partitions follow it;
  *  - `SPARK_MASTER`: a deployment master URL that replaces `local[cpus]`.
  *
  * Sessions run in UTC (the registry's timestamp logic assumes it), with the
  * UI off and WARN logging. Adaptive execution is Spark 4's default. */
object GraftSession {

  /** The conf [[build]] applies, as a pure function of the environment —
    * the seam a test reads without building a session. */
  def settings(env: String => Option[String] = sys.env.get): Map[String, String] = {
    val cpus = env("SPARK_GRAFT_CPUS").getOrElse("4")
    Map(
      "spark.master" -> env("SPARK_MASTER").getOrElse(s"local[$cpus]"),
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
  }

  def build(app: String): SparkSession = {
    val spark = settings()
      .foldLeft(SparkSession.builder().appName(app)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
