package graft

import java.nio.file.{Files, Path}

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
  * UI off and WARN logging. Adaptive execution is Spark 4's default. The
  * session warehouse lives under the process's [[scratch]] root. */
object GraftSession {

  /** This process's scratch root: one fresh `graft_*` directory under the
    * JVM temp dir, created on first use and deleted with everything in it
    * when the JVM exits. Nothing written here outlives the process, so no
    * run ever reads another run's (or another JVM's) files. */
  private lazy val root: Path = {
    val dir = Files.createTempDirectory("graft_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        val walk = Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally walk.close()
      } catch { case _: Exception => () } // exit path: best effort
    }))
    dir
  }

  /** The directory `name` (may hold `/`) under this process's scratch root,
    * created if absent. The same name always gives the same path; callers
    * that run at several scale factors put the SF suffix in the name. */
  def scratch(name: String): String =
    Files.createDirectories(root.resolve(name)).toString

  /** The conf [[build]] applies, as a function of the environment — the
    * seam a test reads without building a session. */
  def settings(env: String => Option[String] = sys.env.get): Map[String, String] = {
    val cpus = env("SPARK_GRAFT_CPUS").getOrElse("4")
    Map(
      "spark.master" -> env("SPARK_MASTER").getOrElse(s"local[$cpus]"),
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> scratch("warehouse"))
  }

  def build(app: String): SparkSession = {
    val spark = settings()
      .foldLeft(SparkSession.builder().appName(app)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
