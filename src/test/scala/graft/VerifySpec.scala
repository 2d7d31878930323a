package graft

import java.nio.file.Files

class VerifySpec extends SparkSpec {

  private val q = "q01_week_histogram"

  test("Verify records a failing query in failures.txt; a good query still dumps") {
    val bad = tempDir("verify-bad")
    assert(Verify.run(spark, "/nonexistent/sf", bad.toString, Some(q)).map(_._1) == Seq(q))
    val lines = Files.readString(bad.resolve("failures.txt")).split("\n").toSeq
    assert(lines.size == 1 && lines.head.startsWith(s"$q\t") && lines.head.length > q.length + 1,
      lines)
    assert(!Files.exists(bad.resolve(q)))

    val good = tempDir("verify-good")
    assert(Verify.run(spark, sfDir, good.toString, Some(q)).isEmpty)
    assert(Files.readString(good.resolve("failures.txt")).isEmpty)
    assert(spark.read.parquet(good.resolve(q).toString).count() > 0)
    assert(Files.readString(good.resolve("oracle_sql.json")).contains(s"\"$q\""))
  }

  private def name(m: QueryModule) = m.getClass.getSimpleName.stripSuffix("$")

  test("registry keys: no query name in two modules; each oracle key names its own module's query") {
    val owners = SparkEntry.modules.flatMap(m => m.queries.keys.map(_ -> name(m)))
      .groupMap(_._1)(_._2)
    val dupes = owners.collect { case (q, ms) if ms.size > 1 => s"$q in ${ms.mkString(", ")}" }
    assert(dupes.isEmpty, dupes.mkString("\n"))
    val strays = SparkEntry.modules.flatMap(m =>
      m.oracle.keys.filterNot(m.queries.contains).map(k => s"${name(m)}: oracle $k"))
    assert(strays.isEmpty, strays.mkString("\n"))
  }
}
