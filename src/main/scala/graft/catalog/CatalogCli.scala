package graft.catalog

import org.apache.spark.sql.functions._

import graft.GraftSession

/** E1 pipeline entry point — the engine's equivalent of the reference's
  * `main_fct.SL_create_csv` driver (main_code.py:17–21): build both sensor
  * catalogs from name listings and write them as headered CSVs.
  *
  * Usage: CatalogCli <s2-listing.txt> <hls-listing.txt> <outDir>
  * Listings are plain text, one entry name per line (the output of `ls` on
  * the sensor directory — O1). Prints the faithful pairs metric like the
  * reference does (main_function_original.py:70).
  */
object CatalogCli {
  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println("usage: CatalogCli <s2-listing.txt> <hls-listing.txt> <outDir>")
      sys.exit(2)
    }
    val Array(s2Listing, hlsListing, outDir) = args
    val spark = GraftSession.build("graft-catalog")

    val (edge, n) = WeekBins.Ref2023
    val s2Names = spark.read.textFile(s2Listing).toDF("data")
    val hlsNames = spark.read.textFile(hlsListing).toDF("data")

    val sCat = CatalogBuilder.build(s2Names, DateParse.s2AcqDate,
      "./2023/crop/S2_bis_crop", edge, n)
    val lCat = CatalogBuilder.build(hlsNames, DateParse.hlsAcqDate,
      "./2023/crop/L8_bis_crop", edge, n)

    // O4 CSV sink — coalesce(1) for single-file parity with the reference
    sCat.select("class", "path", "data").coalesce(1)
      .write.mode("overwrite").option("header", true).csv(s"$outDir/S_out")
    lCat.select("class", "path", "data").coalesce(1)
      .write.mode("overwrite").option("header", true).csv(s"$outDir/L_out")

    println(s"pairs=${CatalogBuilder.pairsMetricFaithful(lCat, sCat)}")
    println(s"join=${CatalogBuilder.joinCardinality(lCat, sCat, includePlaceholders = true)}")
    spark.stop()
  }
}
