package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}
import scala.util.control.NonFatal

/** Benchmark main (driver contract): times every registered query at the
  * given scale-factor dir and prints ONE JSON line. A generic warmup action
  * runs first so JVM/session/codegen initialization isn't charged to
  * whichever query happens to run first.
  *
  * Timing forces FULL materialization: a bare `count()` lets Catalyst prune
  * every unreferenced column, so projection-only queries would measure little
  * more than the Parquet scan. Instead each query is reduced to
  * `bit_xor(xxhash64(struct(*)))` — every output column of every row is
  * computed, hashed and aggregated (xor: overflow-free under ANSI mode),
  * while the shuffle back to the driver stays one row.
  *
  * Every rep runs through [[Runner]]: its seconds are the row's construct
  * plus its `materialize`, and it starts from an empty cache. Each query
  * runs SPARK_GRAFT_BENCH_REPS times (default 3) and reports the per-query
  * MEDIAN — single runs on this host vary ±20–30% (BASELINE.md), so a
  * one-shot total can't distinguish a real 1.3× regression from noise. A
  * streaming replay runs once. When this run's successful reps of a query
  * spread by more than 3×, two more reps are taken and the median is of
  * all of them. A query whose reps all failed reports -1.
  *
  * The reported numbers come only from this run's reps: Bench reads no
  * file from its working directory (no earlier run's artifact or summary),
  * and runs no control query or I/O probe. So `value_normalized`, which
  * once divided the total by control and history ratios, is retired: it
  * is kept in both JSON lines for their readers and always equals `value`.
  */
object Bench {

  /** Evaluate every column of every row of `df` (collapsing to one row). */
  def materialize(df: DataFrame): Unit = {
    val h = xxhash64(struct(df.columns.map(col): _*))
    df.select(h.as("h")).agg(expr("bit_xor(h)")).collect()
    ()
  }

  /** Median of the successful reps; -1 only if every rep failed. */
  def med(xs: Seq[Double]): Double = {
    val g = xs.filter(_ >= 0.0).sorted
    if (g.isEmpty) -1.0 else g(g.length / 2)
  }

  /** The timed reps of one registry row, each through [[Runner]] (-1 for
    * a failed rep): `reps` of them, one for a streaming replay (its
    * MemoryStream run is deterministic), plus two more when the
    * successful reps spread by more than 3×. */
  def timeRow(spark: SparkSession, sfDir: String, e: Entry, reps: Int): Seq[Double] = {
    def rep(): Double = {
      val o = Runner.run(spark, sfDir, e)(materialize)
      o.result.fold({ err =>
        System.err.println(s"[bench] ${e.name} FAILED: ${err.getMessage}")
        -1.0 // a failed query reports -1, never a plausible-looking elapsed time
      }, _ => o.constructS + o.actS)
    }
    val times = (1 to (if (e.replay) 1 else reps)).map(_ => rep())
    // SPREAD GUARD: one GC pause / host-load spike inside a 3-rep window
    // can put an outlier on either side of the median (r7's artifact of
    // record had q11 at 7.46 s vs sub-1 s siblings). If the successful
    // reps spread more than 3×, take two extra reps and use the median
    // of all five — a single spike then can't be the reported number.
    val good = times.filter(_ >= 0.0)
    if (good.length >= 2 && good.max / good.min.max(1e-9) > 3.0) {
      System.err.println(
        f"[bench] ${e.name} reps spread ${good.max / good.min}%.1fx (>3x): running 2 extra reps")
      times ++ (1 to 2).map(_ => rep())
    } else times
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")
    spark.range(1000000L).selectExpr("sum(id)").collect() // JVM/codegen warmup
    // initialize the parquet datasource path (reader classloading, footer
    // codecs) on the 5-row region table so one-time init isn't charged to
    // whichever query happens to scan parquet first — data stays cold
    try SparkEntry.table(spark, sfDir, "region").count()
    catch { case NonFatal(_) => () }
    // ONE UNTIMED PASS over every query before timing: a fresh JVM's first
    // ~30-60 s of executions run up to 15× slow (interpreter → C2 ramp over
    // Spark's own hot paths + first-touch codegen/encoders), and with
    // alphabetical order + median-of-3 that tax landed entirely on the
    // first ~10 queries (r6: q01 10.7 s in-bench vs 0.15 s warm — the
    // "regressions" judged in r5/r6 were this ramp plus host load, not the
    // queries). The warm pass also pages the parquet files once, so timed
    // reps measure the operator, not the ramp.
    // builder-side iteration only (the driver leaves it unset → full
    // registry): comma-separated query names to warm + time in isolation
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    only.foreach { names => // typo'd/empty names must fail loudly, not
      val unknown = names -- SparkEntry.queries.keySet // print an empty
      require(unknown.isEmpty, // "all-fast" artifact
        s"SPARK_GRAFT_BENCH_ONLY names not in the registry: ${unknown.mkString(",")}")
    }
    val selected = SparkEntry.registry.sortBy(_.name).filter(e => only.forall(_.contains(e.name)))
    selected.foreach(e => Runner.run(spark, sfDir, e)(materialize))
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // (name, seconds since the timed section started, reported value): the
    // wall-clock stamp places a hot window on the host after the fact
    val runT0Ms = System.currentTimeMillis()
    val results = selected.map { e =>
      (e.name, (System.currentTimeMillis() - runT0Ms) / 1000.0, med(timeRow(spark, sfDir, e, reps)))
    }
    val replayQueries = selected.filter(_.replay).map(_.name).toSet
    // The driver records only a bounded TAIL of stdout: the r6 artifact lost
    // the line's head (metric/value) because 91 full query names at nanosecond
    // precision overflowed the window. Keep the whole line comfortably inside
    // it: per-query keys are the unique qNN prefix, values round to ms.
    // Locale.ROOT: the f"" interpolator honors the JVM default locale, and a
    // comma-decimal locale would emit {"value":48,912} — unparseable JSON.
    def ms(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val shortKey: Map[String, String] = {
      val pref = results.map { case (k, _, _) => k -> k.takeWhile(_ != '_') }.toMap
      if (pref.values.toSeq.distinct.length == pref.size) pref
      else results.map { case (k, _, _) => k -> k }.toMap // collision: full names
    }
    val qs = results.map { case (k, _, v) => "\"" + shortKey(k) + "\":" + ms(v) }
      .mkString("{", ",", "}")
    // totals EXCLUDE failed queries (-1); n_failed reports them loudly
    // instead. The batch/replay split ships machine-readable so the 2×
    // contract reads per class: the replay class's cost is
    // MemoryStream-harness + state-store I/O, not operator cost.
    val nFailed = results.count(_._3 < 0.0)
    val batchTotal = results.collect {
      case (k, _, v) if v >= 0.0 && !replayQueries(k) => v }.sum
    val replayTotal = results.collect {
      case (k, _, v) if v >= 0.0 && replayQueries(k) => v }.sum
    val total = batchTotal + replayTotal
    // Per-query detail line under a DISTINCT metric name (advisor r11 #4:
    // two stdout lines both tagged "total" let a metric==total consumer
    // match the wrong line or double-count). The judge's per-query
    // extraction regexes the "qNN":sec pairs regardless of the tag.
    // ts: per-query wall-clock offsets (seconds since the timed section
    // began; t0_epoch_ms is the absolute anchor), so a hot window can be
    // placed after the fact. Its keys are "t_"-prefixed so a reader of the
    // quote-anchored "qNN": pairs never reads an offset as a timing.
    val tsField = results.map { case (k, off, _) =>
      "\"t_" + shortKey(k) + "\":" + String.format(java.util.Locale.ROOT, "%.1f", Double.box(off))
    }.mkString(""","ts":{""", ",", "}")
    val detail = s"""{"metric":"total_detail","value":${ms(total)},"value_normalized":${ms(total)},"unit":"sec",""" +
      s""""batch_total":${ms(batchTotal)},"replay_total":${ms(replayTotal)},"n_failed":$nFailed,""" +
      s""""t0_epoch_ms":$runT0Ms,"queries":$qs$tsField,"sf":"$sfDir"}"""
    println(detail)
    // The driver records only a bounded TAIL of stdout, and at 180+ queries
    // the per-query line above is ~3 KB — r10's artifact lost the line's
    // HEAD (metric/value) and recorded parsed:null (judge r10, Next #1).
    // The totals as their own SHORT FINAL line: whatever the tail window
    // is, the last ~100 bytes are always inside it, so the driver's
    // single-line JSON parse finds a complete object with the total. This
    // is the ONE line tagged "total" (the driver contract's line).
    println(s"""{"metric":"total","value":${ms(total)},"value_normalized":${ms(total)},"unit":"sec","n":${results.length},"sf":"$sfDir"}""")
    // Belt and braces (judge r11, Next #1): the full object as a FILE, so
    // the totals survive any stdout windowing/wrapping the harness applies.
    // It is output only; no run reads it back. FULL-REGISTRY runs only: a
    // SPARK_GRAFT_BENCH_ONLY subset run must not clobber the committed
    // full-run summary.
    if (only.isEmpty) {
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_SUMMARY.json"),
        (detail + "\n").getBytes("UTF-8"))
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] BENCH_SUMMARY.json write failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
