package graft

import org.apache.spark.sql.functions._

import graft.catalog.{CatalogBuilder, DateParse, WeekBins}
import graft.pairing.Pairing
import graft.tiling.TileJobs

/** Full-pipeline entry point — the engine's equivalent of the reference's
  * main_code.py drive: E1 catalogs from listings → E2 week-class pair
  * table → E3 tiling over the paired images → tile Parquet.
  *
  * Usage: PipelineCli <s2-listing> <hls-listing> <images.parquet>
  *          <masks.parquet> <maskId> <outDir> [batch] [scale]
  * images.parquet: D4 rows whose image_id equals the listing entry names;
  * masks.parquet: D5 rows; one centerline (maskId) serves all pairs, like
  * the reference's single river mask (main_code.py:50).
  */
object PipelineCli {
  def main(args: Array[String]): Unit = {
    if (args.length < 6) {
      System.err.println("usage: PipelineCli <s2-listing> <hls-listing> " +
        "<images.parquet> <masks.parquet> <maskId> <outDir> [batch] [scale]")
      sys.exit(2)
    }
    val Array(s2Listing, hlsListing, imagesPath, masksPath, maskId, outDir) = args.take(6)
    val batch = if (args.length > 6) args(6).toInt else 300
    val scale = if (args.length > 7) args(7).toInt else 3
    val spark = GraftSession.build("graft-pipeline")

    // E1 — catalogs
    val (edge, n) = WeekBins.Ref2023
    val sCat = CatalogBuilder.build(spark.read.textFile(s2Listing).toDF("data"),
      DateParse.s2AcqDate, "S2", edge, n)
    val lCat = CatalogBuilder.build(spark.read.textFile(hlsListing).toDF("data"),
      DateParse.hlsAcqDate, "L8", edge, n)
    sCat.select("class", "path", "data").write.mode("overwrite")
      .option("header", true).csv(s"$outDir/S_catalog")
    lCat.select("class", "path", "data").write.mode("overwrite")
      .option("header", true).csv(s"$outDir/L_catalog")

    // E2 — pair table (native array form), placeholders excluded for the
    // physical phase (a "0" row has no image)
    val pairs = Pairing.pathsPair(lCat, sCat, includePlaceholders = false)
    pairs.write.mode("overwrite").parquet(s"$outDir/path_pair")

    // E3 — explode pairs to (pair_id, hr, lr, mask) and tile. data_1/data_2
    // carry "<path>/<name>"; image ids are the bare names.
    val pairTable = pairs
      .select(col("data_1"), explode(col("data_2")).as("data_2"))
      .select(
        concat(element_at(split(col("data_1"), "/"), -1), lit("|"),
          element_at(split(col("data_2"), "/"), -1)).as("pair_id"),
        element_at(split(col("data_2"), "/"), -1).as("hr_image_id"),
        element_at(split(col("data_1"), "/"), -1).as("lr_image_id"),
        lit(maskId).as("mask_id"))
    val assembled = TileJobs.assemblePairs(spark, pairTable,
      spark.read.parquet(imagesPath), spark.read.parquet(masksPath))
    val tiles = TileJobs.tilePairs(assembled, TileJobs.Config(batch, scale))
    tiles.write.mode("overwrite").parquet(s"$outDir/tiles")

    val nPairs = pairTable.count()
    val nTiles = spark.read.parquet(s"$outDir/tiles").count()
    println(s"pairs=$nPairs tiles=$nTiles")
    spark.stop()
  }
}
