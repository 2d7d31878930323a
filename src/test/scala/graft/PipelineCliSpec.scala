package graft

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.pairing.Pairing
import graft.raster.{Bands, TiffEncoder}
import graft.tiling.TileJobs

/** PipelineCli's stage functions over a synthetic corpus on disk:
  * listings in the recovered name grammars (PAPER.md §0.1), one band TIFF
  * per scene and band, and one centerline mask. Every stage is checked
  * against an answer assembled without it, and `run` against the stages
  * it chains. */
class PipelineCliSpec extends SparkSpec {
  import PipelineCliSpec._
  import spark.implicits._

  private lazy val root = tempDir("pipelinecli")
  private lazy val corpus = writeCorpus(spark, root.resolve("corpus"))
  /** Images the ingest stage wrote per sensor — the images `run` reads. */
  private lazy val ingested: Map[String, Long] = Sensors.map { case (sensor, _) =>
    sensor -> PipelineCli.ingest(spark, corpus.tiffDir(sensor), sensor, corpus.ingestDir(sensor))
  }.toMap
  private val cfg = TileJobs.Config(batch = 6, scale = 3)

  private def csvBytes(dir: Path): Seq[Byte] = {
    val parts = Files.list(dir).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size == 1, s"$dir: ${parts.mkString(", ")}")
    Files.readAllBytes(parts.head).toSeq
  }

  private def hash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(struct(*)))")).head()
    (r.getLong(0), r.getLong(1))
  }

  test("catalog: one row per name plus one placeholder per empty week") {
    val out = root.resolve("catalog").toString
    PipelineCli.catalog(spark, corpus.s2Listing, corpus.hlsListing, out)
    for ((names, dir) <- Seq(S2Names -> "S_out", HlsNames -> "L_out")) {
      val empty = 53 - names.map(weekOf).distinct.size
      val written = spark.read.option("header", true).csv(s"$out/$dir")
      assert(written.count() == names.size + empty)
      assert(written.where($"data" === "0").count() == empty)
      assert(written.where($"data" =!= "0").select("data").as[String].collect()
        .sorted.toSeq == names.sorted)
    }
  }

  test("pair: the compat CSV reads back as pathsPair of the written catalogs") {
    val out = root.resolve("pair").toString
    val (sCat, lCat) = PipelineCli.catalog(spark, corpus.s2Listing, corpus.hlsListing, out)
    val n = PipelineCli.pair(spark, s"$out/L_out", s"$out/S_out", out)
    def rows(df: DataFrame) = df.collect().toSeq.map(r => (r.getString(0), r.getSeq[String](1)))
    val expected = rows(Pairing.pathsPair(lCat, sCat))
    assert(rows(Pairing.readCompatCsv(spark, s"$out/path_pair")) == expected)
    assert(n == expected.size)
  }

  test("ingest: one 4-band image per scene") {
    for ((sensor, names) <- Sensors) {
      assert(ingested(sensor) == names.size)
      val images = spark.read.parquet(s"${corpus.ingestDir(sensor)}/images")
      assert(images.select("image_id").as[String].collect().sorted.toSeq == names.sorted)
      assert(images.where($"c" =!= 4 || size($"pixels") =!= $"h" * $"w" * 4).isEmpty)
    }
  }

  test("ingest: one scan of the TIFF directory, and every band file counted") {
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.atomic.AtomicBoolean
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (qe.analyzed.exists {
            case l: LogicalRelation => l.relation match {
              case r: HadoopFsRelation => r.fileFormat.isInstanceOf[BinaryFileFormat]
              case _ => false
            }
            case _ => false
          }) scans.incrementAndGet()
        if (qe.analyzed.output.exists(_.name == "ingest_scan_marker")) marker.set(true)
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (sensor, names) = Sensors.head
      val out = root.resolve("ingest-once").toString
      val printed = new java.io.ByteArrayOutputStream
      Console.withOut(printed) {
        assert(PipelineCli.ingest(spark, corpus.tiffDir(sensor), sensor, out) == names.size)
      }
      assert(printed.toString.contains(s"band_files_decoded=${names.size * 4} "), printed)
      // listener events arrive in order: once the marker's has, ingest's have too
      spark.range(1).toDF("ingest_scan_marker").collect()
      eventually(timeout(Span(30, Seconds)))(assert(marker.get()))
      assert(scans.get() == 1)
    } finally spark.listenerManager.unregister(listener)
  }

  test("run: golden-form catalogs, and the tiles of the directly assembled pairs") {
    assert(ingested.values.sum == S2Names.size + HlsNames.size)
    val stages = root.resolve("stages").toString
    PipelineCli.catalog(spark, corpus.s2Listing, corpus.hlsListing, stages)
    val out = root.resolve("run").toString
    val (nPairs, nTiles) = PipelineCli.run(spark, corpus.s2Listing, corpus.hlsListing,
      corpus.imagesGlob, corpus.masks, MaskId, out, cfg)
    for (dir <- Seq("S_out", "L_out"))
      assert(csvBytes(root.resolve(s"run/$dir")) == csvBytes(root.resolve(s"stages/$dir")))

    // both sensors cover the same weeks, so a week-class join is a same-week join
    val direct = for (l <- HlsNames; s <- S2Names if weekOf(l) == weekOf(s))
      yield (s"$l|$s", s, l, MaskId)
    assert(nPairs == direct.size)
    val assembled = TileJobs.assemblePairs(spark,
      direct.toDF("pair_id", "hr_image_id", "lr_image_id", "mask_id"),
      spark.read.parquet(corpus.imagesGlob), spark.read.parquet(corpus.masks))
    val expected = hash(TileJobs.tilePairs(assembled, cfg).toDF())
    assert(expected._1 > 0, "the corpus must yield accepted tiles")
    assert(hash(spark.read.parquet(s"$out/tiles")) == expected)
    assert(nTiles == expected._1)
  }
}

object PipelineCliSpec {

  /** Six scenes per sensor over four 2023 weeks, each week covered by both. */
  val S2Names: Seq[String] = Seq(
    "20230102T044201_20230102T044201_T46RCT", "20230104T044159_20230104T044159_T46RCT",
    "20230107T044201_20230107T044201_T46RCT", "20230109T044201_20230109T044201_T46RCT",
    "20230114T044159_20230114T044159_T46RCT", "20230119T044201_20230119T044201_T46RCT")
  val HlsNames: Seq[String] = Seq(
    "HLS.L30.T46RCT.2023001T042927.v2.0", "HLS.L30.T46RCT.2023003T042927.v2.0",
    "HLS.L30.T46RCT.2023006T042927.v2.0", "HLS.L30.T46RCT.2023013T042927.v2.0",
    "HLS.L30.T46RCT.2023017T042927.v2.0", "HLS.L30.T46RCT.2023019T042927.v2.0")
  val Sensors: Seq[(String, Seq[String])] = Seq("S2" -> S2Names, "L8" -> HlsNames)
  val MaskId = "river"
  /** HR grid side; the LR grid is a third of it. */
  val HrSide = 30

  /** Week of a listing name in the 2023 range (Thursday bins from
    * 2022-12-29), from the name grammar directly. */
  def weekOf(name: String): Long = {
    val d =
      if (name.startsWith("HLS.")) {
        val f = name.split('.')(3)
        LocalDate.ofYearDay(f.take(4).toInt, f.slice(4, 7).toInt)
      } else LocalDate.parse(name.take(8), java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
    (d.toEpochDay - LocalDate.parse("2022-12-29").toEpochDay) / 7
  }

  /** Paths of a corpus under `root`; `ingestDir` is the ingest stage's
    * output dir, written by the caller. */
  final case class Corpus(root: Path) {
    def s2Listing: String = root.resolve("s2.txt").toString
    def hlsListing: String = root.resolve("hls.txt").toString
    def tiffDir(sensor: String): String = root.resolve(s"tiff/$sensor").toString
    def ingestDir(sensor: String): String = root.resolve(s"ingest/$sensor").toString
    def imagesGlob: String = root.resolve("ingest/*/images").toString
    def masks: String = root.resolve("masks").toString
  }

  /** Writes the listings, a band TIFF per scene and band (S2 at
    * [[HrSide]], HLS at a third of it) and the mask under `root`. */
  def writeCorpus(spark: SparkSession, root: Path): Corpus = {
    import spark.implicits._
    Files.createDirectories(root)
    Files.write(root.resolve("s2.txt"), S2Names.asJava)
    Files.write(root.resolve("hls.txt"), HlsNames.asJava)
    for (((sensor, names), k) <- Sensors.zipWithIndex) {
      val (bands, side) = if (sensor == "S2") (Bands.SentinelBands, HrSide)
                          else (Bands.LandsatBands, HrSide / 3)
      val dir = Files.createDirectories(root.resolve(s"tiff/$sensor"))
      for ((name, i) <- names.zipWithIndex; (band, b) <- bands.zipWithIndex) {
        val seed = 100 * k + 10 * i + b
        Files.write(dir.resolve(s"${name}_$band.tif"), TiffEncoder.encode(side, side,
          Array.tabulate(side * side)(p => ((p * 31 + seed * 7) % 997 + 1).toFloat)))
      }
    }
    // centerline: rows 13..17 fully hit
    Seq((MaskId, HrSide, HrSide, Array.tabulate(HrSide * HrSide)(p =>
      if (p / HrSide >= 13 && p / HrSide <= 17) 1.0f else 0.0f)))
      .toDF("mask_id", "h", "w", "pixels")
      .write.mode("overwrite").parquet(root.resolve("masks").toString)
    Corpus(root)
  }
}
