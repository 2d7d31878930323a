package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{CatalogBuilder, DateParse, WeekBins}
import graft.pairing.Pairing
import graft.raster.{Bands, TiffDecoder}
import graft.tiling.{TileJobs, TileRow}

/** The paper's pipeline driven through the library calls IngestCli and
  * PipelineCli make, in one warm session: band TIFFs → images Parquet →
  * week-class catalogs → pair table → assembled pairs → tiles Parquet. */
object Pipeline {

  /** One pass: wall seconds of each step (raster, catalog, pairing,
    * tiling, count, in that order) and the pair and tile counts. */
  final case class Pass(steps: Vector[Double], pairs: Long, tiles: Long) {
    def seconds: Double = steps.sum
  }

  /** A typical pass: the sum over steps of each step's median over
    * `passes`. The steps run one after another, so this is a full pass;
    * a load burst on the host that hits one step of one pass drops out. */
  def typical(passes: Seq[Pass]): Double =
    passes.head.steps.indices.map(i => Stats.median(passes.map(_.steps(i)))).sum

  /** IngestCli's default image-id pattern: the file name before the band. */
  val IdRegex = "([^/]+?)[._]B\\d+.*$"

  private def ingest(spark: SparkSession, dir: Path, bands: Seq[String],
                     sensor: String, out: Path): Unit = {
    val perBand = TiffDecoder.readTiffDir(spark, dir.toString, bands, glob = "*")
      .toDF()
      .select(
        regexp_extract(element_at(split(col("path"), "/"), -1), IdRegex, 1).as("image_id"),
        col("band"), col("h"), col("w"), col("pixels"))
    Bands.stack(perBand, bands, sensor).write.mode("overwrite").parquet(out.toString)
  }

  /** One full run; spans name the layer each call belongs to. */
  def pass(spark: SparkSession, shape: Shape, corpus: Path, out: Path, tr: Tracer): Pass = {
    val steps = Vector.newBuilder[Double]
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try tr.span(name)(body) finally steps += (System.nanoTime() - t0) / 1e9
    }
    val (pairs, tiles) = tr.span("pipeline") {
      step("raster") {
        ingest(spark, corpus.resolve("raster/S2"), Bands.SentinelBands, "S2", out.resolve("images/S2"))
        ingest(spark, corpus.resolve("raster/HLS"), Bands.LandsatBands, "L8", out.resolve("images/L8"))
      }
      val (edge, n) = WeekBins.Ref2023
      val (sCat, lCat) = step("catalog") {
        val s = CatalogBuilder.build(spark.read.textFile(corpus.resolve("s2.txt").toString).toDF("data"),
          DateParse.s2AcqDate, "S2", edge, n)
        val l = CatalogBuilder.build(spark.read.textFile(corpus.resolve("hls.txt").toString).toDF("data"),
          DateParse.hlsAcqDate, "L8", edge, n)
        s.select("class", "path", "data").write.mode("overwrite")
          .option("header", true).csv(out.resolve("S_catalog").toString)
        l.select("class", "path", "data").write.mode("overwrite")
          .option("header", true).csv(out.resolve("L_catalog").toString)
        (s, l)
      }
      val pairTable = step("pairing") {
        val p = Pairing.pathsPair(lCat, sCat, includePlaceholders = false)
        p.write.mode("overwrite").parquet(out.resolve("path_pair").toString)
        pairRows(p)
      }
      step("tiling") {
        val assembled = TileJobs.assemblePairs(spark, pairTable,
          spark.read.parquet(out.resolve("images/S2").toString, out.resolve("images/L8").toString),
          spark.read.parquet(corpus.resolve("masks").toString))
        TileJobs.tilePairs(assembled, TileJobs.Config(shape.batch, shape.scale))
          .write.mode("overwrite").parquet(out.resolve("tiles").toString)
      }
      step("count") {
        (pairTable.count(), spark.read.parquet(out.resolve("tiles").toString).count())
      }
    }
    Pass(steps.result(), pairs, tiles)
  }

  /** PipelineCli's explode of the pair table to (pair_id, hr, lr, mask). */
  private def pairRows(pairs: DataFrame): DataFrame =
    pairs
      .select(col("data_1"), explode(col("data_2")).as("data_2"))
      .select(
        concat(element_at(split(col("data_1"), "/"), -1), lit("|"),
          element_at(split(col("data_2"), "/"), -1)).as("pair_id"),
        element_at(split(col("data_2"), "/"), -1).as("hr_image_id"),
        element_at(split(col("data_1"), "/"), -1).as("lr_image_id"),
        lit(Corpus.MaskId).as("mask_id"))

  /** Tile count and order-independent hash of a written tile set. */
  def tileSummary(spark: SparkSession, tiles: Path): (Long, Long) = {
    import spark.implicits._
    // a 4096-row vectorized batch of tile arrays exceeds any sane heap; the
    // row reader streams them
    val key = "spark.sql.parquet.enableVectorizedReader"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try spark.read.parquet(tiles.toString).as[TileRow]
      .mapPartitions { it =>
        var n = 0L; var h = 0L
        it.foreach { t => n += 1; h += Expect.tileHash(t.pair_id, t.tile_id, t.r, t.c, t.hr, t.lr) }
        Iterator((n, h))
      }
      .collect()
      .foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Per-layer figures of one traced pass (the `pipeline` span). Stage
    * task time is split by the sampled category of each executor stack
    * (kernel / decode / write); "other" samples take the stage's role:
    * map stages of the raster span decode, its result stages stack, and
    * all remaining tiling work is assembly (scan, shuffle, join, row
    * conversion). Each span's wall time with stages running is split in
    * the same proportions; the rest of raster and tiling wall time is
    * driver time (planning, scheduling, job commit). */
  def layers(tr: Tracer, root: Span): Map[String, Double] = {
    val kids = tr.allSpans.filter(_.parent == root.id)
    def kid(name: String): Span = kids.find(_.name == name).get
    val stagesOf = tr.allStages.groupBy(_.span)
    def stages(s: Span) = stagesOf.getOrElse(s.id, Vector.empty)

    /** Task seconds per layer within one span, and its stage-active wall. */
    def split(s: Span, role: (StageFacts, String) => String): (Map[String, Double], Double) = {
      val counts = tr.sampleCounts(s.id)
      val task = stages(s).flatMap { st =>
        val cats = counts.collect { case ((id, cat), n) if id == st.stageId => cat -> n }
        val total = cats.values.sum
        if (total == 0) Seq(role(st, "other") -> st.runMs / 1e3)
        else cats.toSeq.map { case (cat, n) => role(st, cat) -> st.runMs / 1e3 * n / total }
      }.groupMapReduce(_._1)(_._2)(_ + _)
      (task, math.min(activeSeconds(stages(s)), s.seconds))
    }
    def wall(task: Map[String, Double], active: Double, layer: String): Double = {
      val t = task.values.sum
      if (t <= 0) 0.0 else active * task.getOrElse(layer, 0.0) / t
    }

    val raster = kid("raster"); val tiling = kid("tiling")
    val (rTask, rActive) = split(raster, (st, cat) => cat match {
      case "write" => "images_write"
      case "other" | "kernel" => if (st.shuffleWriteBytes > 0) "decode" else "stack"
      case c => c
    })
    val (tTask, tActive) = split(tiling, (_, cat) => cat match {
      case "write" => "sink"
      case "kernel" => "kernel"
      case _ => "assemble"
    })
    val tilingStages = stages(tiling)
    val kernelStage = tilingStages.filter(_.outputBytes > 0).sortBy(-_.outputBytes).headOption
    val taskRuns = kernelStage.map(_.taskRunMs.map(_.toDouble)).getOrElse(Vector.empty)
    val all = tr.subtree(root.id)
    val allStages = tr.allStages.filter(st => all.contains(st.span))
    val mb = 1e6
    Map(
      "raster.decode_s" -> wall(rTask, rActive, "decode"),
      "raster.stack_s" -> wall(rTask, rActive, "stack"),
      "raster.images_write_s" -> wall(rTask, rActive, "images_write"),
      "raster.decode_task_s" -> rTask.getOrElse("decode", 0.0),
      "raster.input_mb" -> stages(raster).map(_.inputBytes).sum / mb,
      "raster.stack_shuffle_mb" -> stages(raster).map(_.shuffleWriteBytes).sum / mb,
      "raster.spill_mb" -> stages(raster).map(_.spillBytes).sum / mb,
      "raster.images_mb" -> stages(raster).map(_.outputBytes).sum / mb,
      "catalog.build_s" -> kid("catalog").seconds,
      "catalog.plan_s" -> tr.planSeconds(kid("catalog").id),
      "catalog.jobs" -> tr.jobs(kid("catalog").id).toDouble,
      "pairing.paths_pair_s" -> kid("pairing").seconds,
      "pairing.plan_s" -> tr.planSeconds(kid("pairing").id),
      "pairing.jobs" -> tr.jobs(kid("pairing").id).toDouble,
      "tiling.assemble_s" -> wall(tTask, tActive, "assemble"),
      "tiling.kernel_s" -> wall(tTask, tActive, "kernel"),
      "tiling.sink_s" -> wall(tTask, tActive, "sink"),
      "tiling.kernel_task_s" -> tTask.getOrElse("kernel", 0.0),
      "tiling.assemble_shuffle_mb" -> tilingStages.map(_.shuffleWriteBytes).sum / mb,
      "tiling.assemble_spill_mb" -> tilingStages.map(_.spillBytes).sum / mb,
      "tiling.peak_exec_mem_mb" -> (0L +: tilingStages.map(_.peakExecMem)).max / mb,
      "tiling.sink_mb" -> tilingStages.map(_.outputBytes).sum / mb,
      "tiling.tasks" -> taskRuns.length.toDouble,
      "tiling.task_skew" ->
        (if (taskRuns.isEmpty || Stats.median(taskRuns) <= 0) 0.0 else taskRuns.max / Stats.median(taskRuns)),
      "trace.pass_s" -> root.seconds,
      "pipeline.count_s" -> kid("count").seconds,
      "spark.driver_s" -> ((raster.seconds - rActive) + (tiling.seconds - tActive)),
      "pipeline.unattributed_s" -> (root.seconds - kids.map(_.seconds).sum),
      "spark.plan_s" -> all.toSeq.map(tr.planSeconds).sum,
      "spark.jobs" -> all.toSeq.map(tr.jobs).sum.toDouble,
      "spark.stages" -> allStages.length.toDouble,
      "spark.tasks" -> allStages.map(_.tasks).sum.toDouble,
      "spark.sched_delay_s" -> allStages.map(_.schedDelayMs).sum / 1e3)
  }

  /** Wall seconds during which at least one of the stages was running. */
  def activeSeconds(stages: Seq[StageFacts]): Double = {
    val iv = stages.filter(s => s.completed >= s.submitted && s.submitted > 0)
      .map(s => (s.submitted, s.completed)).sortBy(_._1)
    var total = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total / 1e3
  }
}
