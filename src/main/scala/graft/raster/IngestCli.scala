package graft.raster

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Raster-ingest entry point (the executor-side replacement for the
  * reference's serial per-file rasterio loop, main_function_original.py:
  * 121–143): a directory of band TIFFs → decoded → stacked into D4 image
  * rows → Parquet.
  *
  * Usage: IngestCli <tiffDir> <L8|S2> <outDir> [imageIdRegex]
  * The image id is extracted from each file name (default: everything
  * before the band token); files of the same image stack in canonical band
  * order (beta semantics, quirk Q4).
  */
object IngestCli {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: IngestCli <tiffDir> <L8|S2> <outDir> [imageIdRegex]")
      sys.exit(2)
    }
    val Array(dir, sensor, outDir) = args.take(3)
    val bands = sensor match {
      case "L8" => Bands.LandsatBands
      case "S2" => Bands.SentinelBands
      case other => System.err.println(s"unknown sensor $other (want L8|S2)"); sys.exit(2); Nil
    }
    val idRegex = args.lift(3).getOrElse("([^/]+?)[._]B\\d+.*$")
    val spark = GraftSession.build("graft-ingest")

    val perBand = TiffDecoder.readTiffDir(spark, dir, bands, glob = "*")
      .toDF()
      .select(
        regexp_extract(element_at(split(col("path"), "/"), -1), idRegex, 1).as("image_id"),
        col("band"), col("h"), col("w"), col("pixels"))
    val images = Bands.stack(perBand, bands, sensor)
    images.write.mode("overwrite").parquet(s"$outDir/images")
    val n = spark.read.parquet(s"$outDir/images").count()
    val nBand = perBand.count()
    println(s"band_files_decoded=$nBand images_written=$n")
    spark.stop()
  }
}
