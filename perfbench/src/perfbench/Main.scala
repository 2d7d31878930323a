package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.raster.TiffDecoder

/** Benchmark entry point: one workload, one seed, one run.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --bench <dir>
  * Prints progress to stderr and, as the last stdout line, one JSON object
  * {correct, attempted, failed, metrics}. */
object Main {

  /** End-to-end metrics (untraced runs), with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "items_per_s" -> "1/s")

  /** Per-layer metrics (traced runs), with units; a layer a workload does
    * not run reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "raster.decode_s" -> "s", "raster.decode_task_s" -> "s", "raster.files_attempted" -> "count",
    "raster.files_decoded" -> "count", "raster.input_mb" -> "MB", "raster.decode_mpx_per_s" -> "Mpx/s",
    "raster.stack_s" -> "s", "raster.stack_shuffle_mb" -> "MB", "raster.spill_mb" -> "MB",
    "raster.images_write_s" -> "s", "raster.images_mb" -> "MB",
    "catalog.build_s" -> "s", "catalog.plan_s" -> "s", "catalog.jobs" -> "count", "catalog.rows" -> "count",
    "pairing.paths_pair_s" -> "s", "pairing.plan_s" -> "s", "pairing.jobs" -> "count", "pairing.pairs" -> "count",
    "tiling.assemble_s" -> "s", "tiling.assemble_shuffle_mb" -> "MB", "tiling.assemble_spill_mb" -> "MB",
    "tiling.peak_exec_mem_mb" -> "MB",
    "tiling.kernel_s" -> "s", "tiling.kernel_task_s" -> "s", "tiling.kernel_ms_per_pair" -> "ms",
    "tiling.candidates" -> "count", "tiling.tiles" -> "count", "tiling.accept_ratio" -> "ratio",
    "tiling.tasks" -> "count", "tiling.task_skew" -> "ratio",
    "tiling.sink_s" -> "s", "tiling.sink_mb" -> "MB",
    "pipeline.count_s" -> "s", "pipeline.unattributed_s" -> "s",
    "spark.driver_s" -> "s", "spark.plan_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.sched_delay_s" -> "s", "jvm.gc_s" -> "s", "jvm.peak_heap_mb" -> "MB",
    "queries.construct_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "queries.jobs_per_query" -> "count", "queries.exchanges" -> "count", "queries.codegen_fallback" -> "count",
    "queries.failed" -> "count", "queries.row_p50_s" -> "s", "queries.row_p75_s" -> "s",
    "run.failed_share" -> "ratio", "trace.pass_s" -> "s", "trace.overhead_s" -> "s")

  val Workloads: Seq[String] = Seq("reference_year", "registry_floor")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, bench: Path)

  final case class Result(correct: Boolean, attempted: Long, failed: Long, metrics: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    Files.createDirectories(o.work)
    val spark = session(o.work)
    try {
      val sessionS = (System.nanoTime() - t0) / 1e9
      val r = o.workload match {
        case "reference_year" => pipeline(spark, o, Corpus.ReferenceYear, sessionS)
        case "registry_floor" => registry(spark, o, sessionS)
      }
      val names = if (o.trace) PerLayer else EndToEnd
      val metrics = names.map { case (n, unit) =>
        val v = r.metrics.getOrElse(n, 0.0)
        s""""$n": {"value": ${num(v)}, "unit": "$unit"}"""
      }.mkString(", ")
      println(s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$metrics}}""")
    } finally spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (want ${Workloads.mkString("|")})")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be >= 1")
    Opts(w, need("seed").toLong, seconds, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("bench")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `untraced` (and, when tracing, `traced` alternately) until the
    * next pass would overrun `seconds`; at least `min` of each. */
  private def measure[A, B](seconds: Int, min: Int, trace: Boolean)
                           (untraced: => A, time: A => Double)(traced: => B): (Vector[A], Vector[B]) = {
    val plain = Vector.newBuilder[A]; val withTrace = Vector.newBuilder[B]
    val start = System.nanoTime()
    var n = 0; val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    def elapsed = (System.nanoTime() - start) / 1e9
    while (n < min || elapsed + Stats.median(times.toSeq) * (if (trace) 2 else 1) <= seconds) {
      val a = untraced; plain += a; times += time(a)
      if (trace) withTrace += traced
      n += 1
    }
    (plain.result(), withTrace.result())
  }

  /** Layer figures of the traced pass with the median wall time: one
    * pass, so its parts add up to its `trace.pass_s`. */
  private def medianPass[P](traced: Vector[(P, Map[String, Double])]): Map[String, Double] =
    traced.sortBy(_._2("trace.pass_s")).apply(traced.length / 2)._2

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  // ------------------------------------------------------------ pipelines

  def pipeline(spark: SparkSession, o: Opts, shape: Shape, sessionS: Double): Result = {
    val corpus = new Corpus(shape, o.seed)
    val dir = o.work.resolve(s"${o.workload}/corpus")
    val out = o.work.resolve(s"${o.workload}/out")
    val gens = (1 to 3).map(_ => timed(corpus.write(spark, dir))._2)
    val off = new Tracer(spark, enabled = false)
    // one untimed pass; the per-step medians of the timed passes absorb
    // the rest of the JIT warm-up
    val (warm, warmS) = timed(Seq(Pipeline.pass(spark, shape, dir, out, off)))
    val setupS = sessionS + Stats.median(gens) + warmS
    log(f"setup: session $sessionS%.2fs, corpus ${Stats.median(gens)}%.2fs, " +
      f"warm pass ${warm.head.seconds}%.2fs")

    val tracer = new Tracer(spark, enabled = o.trace)
    val heap = new HeapWatch
    val gc0 = gcSeconds()
    val (passes, traced) = measure(o.seconds, 3, o.trace)(
      Pipeline.pass(spark, shape, dir, out, off), (p: Pipeline.Pass) => p.seconds) {
      val g = gcSeconds()
      val p = Pipeline.pass(spark, shape, dir, out, tracer)
      val root = tracer.allSpans.filter(_.name == "pipeline").last
      (p, Pipeline.layers(tracer, root) + ("jvm.gc_s" -> (gcSeconds() - g)))
    }
    val peakMb = heap.close()
    tracer.close()
    tracer.dump(o.work.resolve(s"${o.workload}/trace.jsonl"))
    log(f"passes: ${passes.map(p => f"${p.seconds}%.2f").mkString(" ")}; gc ${gcSeconds() - gc0}%.2fs")

    // correctness, outside every timed region
    val pairs = Expect.pairs(corpus)
    val exp = Expect.tiles(corpus, pairs, threads = 4)
    val all = warm ++ passes ++ traced.map(_._1)
    val scenes = corpus.s2.size + corpus.hls.size
    val files = scenes * Corpus.NBands
    val images = spark.read.parquet(out.resolve("images/S2").toString, out.resolve("images/L8").toString)
    val stacked = images.where("c = 4").count()
    val (nTiles, hash) = Pipeline.tileSummary(spark, out.resolve("tiles"))
    def rows(p: String) = spark.read.option("header", true).csv(out.resolve(p).toString).count()
    val catRows = rows("S_catalog") + rows("L_catalog")
    val checks = all.flatMap(p => Seq(p.pairs == pairs.size, p.tiles == exp.tiles)) ++ Seq(
      stacked == scenes,
      catRows == Expect.catalogRows(corpus.s2) + Expect.catalogRows(corpus.hls),
      nTiles == exp.tiles, hash == exp.hash)
    val attempted = all.length.toLong * (files + pairs.size) + checks.length
    val failed = (files - stacked * Corpus.NBands) + checks.count(!_)
    log(s"expected pairs=${pairs.size} tiles=${exp.tiles}; got pairs=${all.map(_.pairs).distinct} " +
      s"tiles=${all.map(_.tiles).distinct} hash ${if (hash == exp.hash) "ok" else "MISMATCH"}; " +
      s"images=$stacked catalog rows=$catRows; failed=$failed")

    val passS = Pipeline.typical(passes)
    val e2e = Map("setup_s" -> setupS, "pass_s" -> passS, "items_per_s" -> pairs.size / passS,
      "jvm.peak_heap_mb" -> peakMb)
    val layers =
      if (!o.trace) Map.empty[String, Double]
      else {
        val tracedS = Pipeline.typical(traced.map(_._1))
        medianPass(traced) ++ Map(
          "raster.files_attempted" -> files.toDouble,
          "raster.files_decoded" -> (stacked * Corpus.NBands).toDouble,
          "raster.decode_mpx_per_s" -> decodeRate(dir),
          "catalog.rows" -> catRows.toDouble,
          "pairing.pairs" -> pairs.size.toDouble,
          "tiling.kernel_ms_per_pair" -> kernelMsPerPair(corpus, pairs),
          "tiling.candidates" -> exp.candidates.toDouble,
          "tiling.tiles" -> nTiles.toDouble,
          "tiling.accept_ratio" -> (if (exp.candidates == 0) 0.0 else nTiles.toDouble / exp.candidates),
          "run.failed_share" -> failed.toDouble / attempted,
          "trace.overhead_s" -> (tracedS - passS))
      }
    Result(failed == 0, attempted, failed, e2e ++ layers)
  }

  /** Single-thread `TiffDecoder.decode` rate over the first 16 band files
    * (sorted by name), repeated for at least half a second. */
  private def decodeRate(corpus: Path): Double = {
    val files = Seq("raster/S2", "raster/HLS").flatMap { d =>
      val s = Files.list(corpus.resolve(d))
      try s.iterator().asScala.toVector.sortBy(_.toString).take(8) finally s.close()
    }.map(Files.readAllBytes)
    var px = 0L; var n = 0
    val t0 = System.nanoTime()
    while (n < 3 || System.nanoTime() - t0 < 500000000L) {
      files.foreach(b => px += TiffDecoder.decode(b).fold(_ => 0, t => t.h * t.w))
      n += 1
    }
    px / 1e6 / ((System.nanoTime() - t0) / 1e9)
  }

  /** Single-thread greedy kernel time per pair on the first four pairs,
    * from the generator's arrays, repeated for at least half a second. */
  private def kernelMsPerPair(c: Corpus, pairs: Vector[(Scene, Scene)]): Double = {
    val cand = Expect.candidates(c)
    val sample = pairs.take(4).map { case (l, s) => (c.pixels(Corpus.S2, s.index), c.pixels(Corpus.HLS, l.index)) }
    var calls = 0
    val t0 = System.nanoTime()
    while (calls < 4 || System.nanoTime() - t0 < 500000000L) {
      sample.foreach { case (hr, lr) => Expect.pairTiles(c, hr, lr, cand); calls += 1 }
    }
    (System.nanoTime() - t0) / 1e6 / calls
  }

  // ------------------------------------------------------------ registry

  def registry(spark: SparkSession, o: Opts, sessionS: Double): Result = {
    val sfDir = o.bench.resolve("data/sf0.01").toString
    val rows = new scala.util.Random(o.seed).shuffle(Registry.load(o.bench.resolve("registry_subset.tsv")))
    val names = rows.map(_.name)
    // the hash pass is the warm-up: the reduction Bench.materialize runs,
    // with its value kept for the check
    val (got, warmS) = timed(Registry.hashes(spark, names, sfDir))
    val setupS = sessionS + warmS
    log(f"setup: session $sessionS%.2fs, hash pass $warmS%.2fs")
    val mismatched = rows.zip(got).collect { case (r, g) if !g.contains(r.expected) => r.name }
    if (mismatched.nonEmpty) log(s"hash mismatch: ${mismatched.mkString(" ")}")

    val off = new Tracer(spark, enabled = false)
    val tracer = new Tracer(spark, enabled = o.trace)
    val heap = new HeapWatch
    val (passes, traced) = measure(o.seconds, 3, o.trace)(
      Registry.pass(spark, names, sfDir, off), (p: Vector[Registry.Timing]) => p.map(_.seconds).sum) {
      val g = gcSeconds()
      val p = Registry.pass(spark, names, sfDir, tracer)
      val root = tracer.allSpans.filter(_.name == "registry").last
      (p, registryLayers(tracer, root, p) + ("jvm.gc_s" -> (gcSeconds() - g)))
    }
    val peakMb = heap.close()
    tracer.close()
    tracer.dump(o.work.resolve(s"${o.workload}/trace.jsonl"))

    val totals = passes.map(_.map(_.seconds).sum)
    log(s"passes: ${totals.map(t => f"$t%.2f").mkString(" ")}; slowest rows: " +
      passes.last.sortBy(-_.seconds).take(8).map(t => f"${t.name} ${t.seconds}%.2f").mkString(", "))
    val all = passes ++ traced.map(_._1)
    val attempted = all.map(_.length.toLong).sum + rows.length
    val failed = all.map(_.count(!_.ok).toLong).sum + mismatched.length
    // a typical pass: each row's median over the passes, summed
    def perRow(ps: Seq[Vector[Registry.Timing]]) = names.indices.map(i => Stats.median(ps.map(_(i).seconds)))
    val passS = perRow(passes).sum
    val e2e = Map("setup_s" -> setupS, "pass_s" -> passS, "items_per_s" -> rows.length / passS,
      "jvm.peak_heap_mb" -> peakMb)
    val layers =
      if (!o.trace) Map.empty[String, Double]
      else {
        val shapes = names.map(n => Registry.planShape(graft.SparkEntry.queries(n)(spark, sfDir)))
        spark.catalog.clearCache()
        medianPass(traced) ++ Map(
          "queries.exchanges" -> shapes.map(_._1).sum.toDouble,
          "queries.codegen_fallback" -> shapes.map(_._2).sum.toDouble,
          "queries.failed" -> failed.toDouble,
          "queries.row_p50_s" -> Stats.median(perRow(passes)),
          "queries.row_p75_s" -> Stats.quantile(perRow(passes), 0.75),
          "run.failed_share" -> failed.toDouble / attempted,
          "trace.overhead_s" -> (perRow(traced.map(_._1)).sum - passS))
      }
    Result(failed == 0, attempted, failed, e2e ++ layers)
  }

  private def registryLayers(tr: Tracer, root: Span, p: Vector[Registry.Timing]): Map[String, Double] = {
    val all = tr.subtree(root.id)
    val rowSpans = tr.allSpans.filter(_.parent == root.id)
    val stages = tr.allStages.filter(s => all.contains(s.span))
    Map(
      "trace.pass_s" -> root.seconds,
      "queries.construct_s" -> p.map(_.constructS).sum,
      "queries.exec_s" -> p.map(_.execS).sum,
      "queries.plan_s" -> rowSpans.map(s => tr.planSeconds(s.id)).sum,
      "queries.jobs_per_query" -> rowSpans.map(s => tr.jobs(s.id)).sum.toDouble / p.length,
      "spark.plan_s" -> all.toSeq.map(tr.planSeconds).sum,
      "spark.jobs" -> all.toSeq.map(tr.jobs).sum.toDouble,
      "spark.stages" -> stages.length.toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.sched_delay_s" -> stages.map(_.schedDelayMs).sum / 1e3)
  }
}

/** Peak heap in use right after any collection, from GC notifications,
  * between construction and [[close]] (MB). */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
  }
  beans.foreach(_.addNotificationListener(listener, null, null))

  def close(): Double = {
    beans.foreach(b => try b.removeNotificationListener(listener) catch { case _: Exception => () })
    peak / 1e6
  }
}
