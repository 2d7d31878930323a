package graft.raster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** D5 row model (SURVEY.md §1): a centerline mask as a flattened float
  * array. Spark has no tensor type, so shape travels as columns and
  * `pixels` is row-major: index = r*w + c. */
case class CenterlineMask(mask_id: String, h: Int, w: Int, pixels: Array[Float])

/** Band-file predicates and deterministic band stacking (O11, beta
  * semantics — reference main_function_beta.py:136–156 iterates the band
  * list so stacking order is fixed; the original's os.listdir order was
  * nondeterministic, quirk Q4). Substring matching in the reference
  * (`"B2" in name`) also matches B20 etc. (quirk Q7) — here the band id is
  * matched as a whole `_`/`.`-delimited token.
  */
object Bands {
  /** Landsat/HLS band set, stack order. */
  val LandsatBands: Seq[String] = Seq("B02", "B03", "B04", "B05")
  /** Sentinel-2 band set, stack order. */
  val SentinelBands: Seq[String] = Seq("B2", "B3", "B4", "B8")

  /** The band tokens as one regex group: a band id matches only as a full
    * `_`/`.`-delimited token, and a name's band is its leftmost match. */
  private[raster] def token(bands: Seq[String]): String =
    bands.map(java.util.regex.Pattern.quote).mkString("[._](", "|", ")[._]")

  /** Anchored band-token predicate: keeps file names containing the band id
    * as a full token, never `.xml` sidecars. */
  def bandFileFilter(name: Column, bands: Seq[String]): Column =
    name.rlike(token(bands)) && !name.contains("xml")

  /** Which band id a file name carries (NULL if none). */
  def bandOf(name: Column, bands: Seq[String]): Column = {
    val ex = regexp_extract(name, token(bands), 1)
    when(ex =!= "", ex)
  }

  /** Image id of a band file at `path`: its file name before the first
    * band token, so the band files of one image share it. */
  def imageId(path: Column, bands: Seq[String]): Column =
    regexp_extract(element_at(split(path, "/"), -1), s"^(.*?)${token(bands)}", 1)

  /** Deterministic stack: per-band rows (image_id, band, h, w, pixels) →
    * one D4 row per image with bands concatenated in `bands` order
    * (beta semantics). The per-image sort key is the band's position in the
    * canonical list, so the result is order-independent under parallelism.
    */
  def stack(perBand: DataFrame, bands: Seq[String], sensor: String): DataFrame = {
    val pos = array_position(lit(bands.toArray), col("band"))
    perBand
      .withColumn("_pos", pos)
      .where(col("_pos") > 0)
      .groupBy("image_id", "h", "w")
      .agg(
        flatten(array_sort(collect_list(struct(col("_pos"), col("pixels"))))
          .getField("pixels")).as("pixels"),
        count(lit(1)).as("_nbands"))
      .where(col("_nbands") === bands.size)
      .select(
        col("image_id"),
        lit(sensor).as("sensor"),
        typedLit(bands).as("bands"),
        lit(bands.size).as("c"),
        col("h"), col("w"), col("pixels"))
  }
}
