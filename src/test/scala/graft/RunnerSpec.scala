package graft

class RunnerSpec extends SparkSpec {

  test("a failing row gives a failed Outcome and the next row still runs, " +
      "with its cache cleared and its construct time apart from the action's") {
    val throwing = Entry("throws", (_, _) => throw new IllegalStateException("no such table"))
    val good = Entry("good", (s, _) => {
      Thread.sleep(100)
      s.range(10).toDF("id").persist()
    })
    val Seq(bad, ok) = Seq(throwing, good).map { e =>
      Runner.run(spark, sfDir, e) { df =>
        val cached = !spark.sharedState.cacheManager.isEmpty
        Thread.sleep(5000) // well above a first persist in a cold JVM (over a second)
        (cached, df.count())
      }
    }
    assert(bad.name == "throws" && bad.actS == 0.0)
    assert(bad.result.left.map(_.getMessage) == Left("no such table"))

    assert(ok.name == "good" && ok.result == Right((true, 10L)))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(ok.constructS >= 0.1 && ok.constructS < 5.0, ok)
    assert(ok.actS >= 5.0, ok)
  }
}
