package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.registry result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is recorded in failures.txt (`name<TAB>message` per line, empty
  * on a clean run), never left as a silently missing output. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (builder-side iteration only; the driver passes 2):
    // comma-separated query names to dump/oracle, e.g. "q56_asof_join"
    val Array(sfDir, outDir) = args.take(2)
    val spark = GraftSession.build("graft-verify")
    run(spark, sfDir, outDir, args.lift(2))
    spark.stop()
  }

  /** Dumps the selected queries and their oracles into `outDir`; returns
    * the failures it wrote to failures.txt. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[String]): Seq[(String, String)] = {
    // special filter "__oracle_only__": dump the FULL oracle_sql.json and
    // run NO queries — feeds scripts/check_oracle.py's registry-wide output-
    // type guard (HUGEINT/DECIMAL ban) without paying for a full verify.
    val oracleOnly = only.contains("__oracle_only__")
    val names: Option[Set[String]] =
      only.filterNot(_ == "__oracle_only__").map(_.split(",").toSet)
    def keep(name: String): Boolean = !oracleOnly && names.forall(_.contains(name))
    def keepOracle(name: String): Boolean = oracleOnly || keep(name)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.registry.filter(e => keep(e.name))
    val failures = selected.flatMap { case Entry(name, build, _, _) =>
      val failed =
        try {
          build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // one line per failure: the message's own newlines and tabs fold
          Some(name -> String.valueOf(e.getMessage).replaceAll("\\s+", " "))
        }
      // release the query's persisted frames — unreleased caches accumulate
      // across the 170+-query dump and churn storage memory
      spark.catalog.clearCache()
      failed
    }
    Files.writeString(Paths.get(s"$outDir/failures.txt"),
      failures.map { case (n, m) => s"$n\t$m\n" }.mkString)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.registry.filter(e => keepOracle(e.name))
      .flatMap(e => e.oracle.map(sql => s"${q(e.name)}: ${q(sql)}")).mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failures
  }
}
