package graft

/** Bench's per-row reporting: the median of this run's successful reps. */
class BenchSpec extends SparkSpec {

  test("failed reps: -1 markers are ignored by both median and min; " +
      "all-failed reports -1") {
    assert(Bench.med(Seq(-1.0, 2.0, 3.0)) == 3.0)
    assert(Bench.med(Seq(15.2, 15.3, 15.1)) == 15.2)
    assert(Bench.med(Seq(-1.0, -1.0)) == -1.0)
    assert(Bench.med(Nil) == -1.0)
  }

  test("per-row timing: a replay row gets one rep, a failing row reports -1") {
    var builds = 0
    val replay = Entry("replay", (s, _) => { builds += 1; s.range(10).toDF("id") }, replay = true)
    val times = Bench.timeRow(spark, sfDir, replay, reps = 3)
    assert(builds == 1 && times.size == 1 && times.head >= 0.0, times)

    val failing = Entry("failing", (_, _) => throw new IllegalStateException("no table"))
    val failed = Bench.timeRow(spark, sfDir, failing, reps = 3)
    assert(failed == Seq(-1.0, -1.0, -1.0))
    assert(Bench.med(failed) == -1.0)
  }
}
