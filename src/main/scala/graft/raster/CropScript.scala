package graft.raster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** O9 — gdalwarp shell-script codegen (reference: `data_crop.crop`,
  * data_pair/fct_data_extraction.py:169–211): per acquisition sub-directory
  * and raster file, emit one
  * `gdalwarp -cutline <gpkg> -crop_to_cutline <in> <out>` line. The
  * reference appends the lines to per-sensor .sh files; here it is a pure
  * projection over a (acq_dir, file_name) listing.
  *
  * Sensor quirks preserved: the Landsat pass keeps only `.tif`-containing,
  * non-xml names and writes the same name; the Sentinel pass keeps all
  * non-xml names and APPENDS `.tif` to the output (fde:193 vs fde:207).
  */
object CropScript {

  /** @param listing DataFrame(acq_dir STRING, file_name STRING)
    * @param requireTif   Landsat mode filter (`".tif" in name`)
    * @param appendTifSuffix Sentinel mode output naming (`name + ".tif"`)
    */
  def gdalwarpLines(listing: DataFrame, cutlineGpkg: String,
                    inRoot: String, outRoot: String,
                    requireTif: Boolean, appendTifSuffix: Boolean): DataFrame = {
    val kept = listing
      .where(!col("file_name").contains(".xml") &&
        (if (requireTif) col("file_name").contains(".tif") else lit(true)))
    val outName =
      if (appendTifSuffix) concat(col("file_name"), lit(".tif")) else col("file_name")
    kept.select(concat_ws(" ",
      lit("gdalwarp"), lit("-cutline"), lit(cutlineGpkg), lit("-crop_to_cutline"),
      concat_ws("/", lit(inRoot), col("acq_dir"), col("file_name")),
      concat_ws("/", lit(outRoot), col("acq_dir"), outName)).as("line"))
  }
}
