package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.CatalogBuilder
import graft.pairing.Pairing
import graft.raster.{Bands, TiffDecoder}
import graft.tiling.TileJobs

/** The pipeline entry point — the reference's main_code.py drive: E1
  * catalogs → E2 week-class pair table → raster ingest → E3 tiling. Each
  * command of [[Usage]] is one stage function over a caller's session, and
  * `run` chains the same functions. Listings hold one entry name per line
  * (`ls` of the sensor directory — O1); images are D4 rows keyed by the bare
  * entry name, masks D5 rows, and a `tile` pair table is (pair_id,
  * hr_image_id, lr_image_id, mask_id). */
object PipelineCli {

  /** Reference tiling (main_code.py:50): batch 300, scale 3, overlap 0.7, greedy. */
  val RefTiling = TileJobs.Config(batch = 300, scale = 3)

  private val SensorBands = Map("L8" -> Bands.LandsatBands, "S2" -> Bands.SentinelBands)

  private val Usage = """usage: PipelineCli <command> <args...>
    |  catalog <s2-listing> <hls-listing> <outDir>
    |  pair    <L_out.csv> <S_out.csv> <outDir>
    |  ingest  <tiffDir> <L8|S2> <outDir>
    |  tile    <pairs.parquet> <images.parquet> <masks.parquet> <outDir>
    |  run     <s2-listing> <hls-listing> <images.parquet> <masks.parquet> <maskId> <outDir>""".stripMargin

  def main(args: Array[String]): Unit = {
    val stage: SparkSession => Unit = args.toList match {
      case List("catalog", s2, hls, out) => catalog(_, s2, hls, out)
      case List("pair", l, s, out) => spark => println(s"pairs_written=${pair(spark, l, s, out)}")
      case List("ingest", dir, sensor, out) if SensorBands.contains(sensor) =>
        ingest(_, dir, sensor, out)
      case List("tile", pairs, images, masks, out) => spark =>
        println(s"tiles_written=${tile(spark, spark.read.parquet(pairs), images, masks, out, RefTiling)}")
      case List("run", s2, hls, images, masks, maskId, out) =>
        run(_, s2, hls, images, masks, maskId, out, RefTiling)
      case _ => System.err.println(Usage); sys.exit(2)
    }
    val spark = GraftSession.build("graft-pipeline")
    try stage(spark) finally spark.stop()
  }

  /** E1 (main_code.py:17–21): both catalogs as single headered CSVs
    * `S_out`/`L_out` (O4, the goldens' form); prints the faithful pairs
    * metric (main_function_original.py:70) and the join cardinality.
    * @return (S catalog, L catalog) */
  def catalog(spark: SparkSession, s2Listing: String, hlsListing: String,
              outDir: String): (DataFrame, DataFrame) = {
    def names(p: String) = spark.read.textFile(p).toDF("data")
    val (sCat, lCat) = CatalogBuilder.reference(names(s2Listing), names(hlsListing))
    for ((cat, dir) <- Seq(sCat -> "S_out", lCat -> "L_out")) // one file, like the reference
      cat.select("class", "path", "data").coalesce(1)
        .write.mode("overwrite").option("header", true).csv(s"$outDir/$dir")
    println(s"pairs=${CatalogBuilder.pairsMetricFaithful(lCat, sCat)}")
    println(s"join=${CatalogBuilder.joinCardinality(lCat, sCat, includePlaceholders = true)}")
    (sCat, lCat)
  }

  /** E2 (main_code.py:24–27): the pair table of two catalog CSVs as the
    * compat CSV `path_pair` (`data_2` a Python list-repr, quirk Q3).
    * @return pair-table rows */
  def pair(spark: SparkSession, lCsv: String, sCsv: String, outDir: String): Long = {
    def cat(p: String) = spark.read.option("header", true).csv(p)
    val pairs = Pairing.pathsPair(cat(lCsv), cat(sCsv))
    Pairing.writeCompatCsv(pairs, s"$outDir/path_pair")
    pairs.count()
  }

  /** Raster ingest (the reference's serial rasterio loop, main_function_original.py:
    * 121–143): band TIFFs → D4 rows at `images`, keyed by the file name before
    * the band token, bands in canonical order (quirk Q4).
    * @return images written */
  def ingest(spark: SparkSession, tiffDir: String, sensor: String, outDir: String): Long = {
    val bands = SensorBands(sensor)
    // counted during the write: a second action would re-scan and re-decode
    // every band file (a typed mapPartitions cannot be pruned)
    val decoded = Observation("band_files")
    val perBand = TiffDecoder.readTiffDir(spark, tiffDir, bands, glob = "*")
      .toDF()
      .select(
        regexp_extract(element_at(split(col("path"), "/"), -1), "([^/]+?)[._]B\\d+.*$", 1)
          .as("image_id"),
        col("band"), col("h"), col("w"), col("pixels"))
      .observe(decoded, count(lit(1)).as("n"))
    Bands.stack(perBand, bands, sensor).write.mode("overwrite").parquet(s"$outDir/images")
    val n = spark.read.parquet(s"$outDir/images").count()
    println(s"band_files_decoded=${decoded.get("n")} images_written=$n")
    n
  }

  /** E3 (main_code.py:29–84): the accepted HR/LR tiles of every pair as
    * Parquet at `tiles` (for the per-pair .pth tensors, SURVEY.md D6/O7).
    * @return tiles written */
  def tile(spark: SparkSession, pairTable: DataFrame, imagesPath: String, masksPath: String,
           outDir: String, cfg: TileJobs.Config): Long = {
    val assembled = TileJobs.assemblePairs(spark, pairTable,
      spark.read.parquet(imagesPath), spark.read.parquet(masksPath))
    TileJobs.tilePairs(assembled, cfg).write.mode("overwrite").parquet(s"$outDir/tiles")
    spark.read.parquet(s"$outDir/tiles").count()
  }

  /** The whole chain: [[catalog]], the native pair table (`path_pair`
    * Parquet without placeholders — a "0" row has no image), then [[tile]]
    * with one centerline for all pairs, like the reference's single river
    * mask (main_code.py:50).
    * @return (pairs, tiles) */
  def run(spark: SparkSession, s2Listing: String, hlsListing: String, imagesPath: String,
          masksPath: String, maskId: String, outDir: String, cfg: TileJobs.Config): (Long, Long) = {
    val (sCat, lCat) = catalog(spark, s2Listing, hlsListing, outDir)
    val pairs = Pairing.pathsPair(lCat, sCat, includePlaceholders = false)
    pairs.write.mode("overwrite").parquet(s"$outDir/path_pair")
    // data_1/data_2 carry "<path>/<name>"; image ids are the bare names
    def name(c: String) = element_at(split(col(c), "/"), -1)
    val pairTable = pairs
      .select(col("data_1"), explode(col("data_2")).as("data_2"))
      .select(
        concat(name("data_1"), lit("|"), name("data_2")).as("pair_id"),
        name("data_2").as("hr_image_id"),
        name("data_1").as("lr_image_id"),
        lit(maskId).as("mask_id"))
    val nTiles = tile(spark, pairTable, imagesPath, masksPath, outDir, cfg)
    val nPairs = pairTable.count()
    println(s"pairs=$nPairs tiles=$nTiles")
    (nPairs, nTiles)
  }
}
