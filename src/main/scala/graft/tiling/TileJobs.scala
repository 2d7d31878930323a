package graft.tiling

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tiling.TileKernel.Candidates

/** One image pair ready for tiling: HR + LR tensors and the centerline mask
  * (HR-resolution), flattened band-major. One row per pair — the unit of
  * parallelism for E3 (the reference's serial per-pair loop becomes a
  * partition-parallel flatMap; SURVEY.md §3 E3).
  */
final case class PairRow(
    pair_id: String,
    n_bands: Int,
    hr_h: Int, hr_w: Int, hr_pixels: Array[Float],
    lr_h: Int, lr_w: Int, lr_pixels: Array[Float],
    mask_h: Int, mask_w: Int, mask_pixels: Array[Float])

/** One accepted HR/LR tile pair (D6; FIXTURES.md tile schema). */
final case class TileRow(
    pair_id: String, tile_id: Int, r: Int, c: Int,
    hr: Array[Float], lr: Array[Float], b: Int, s: Int)

object TileJobs {

  sealed trait OverlapMode
  /** Faithful greedy sequential scan (O26). */
  case object Greedy extends OverlapMode
  /** Faithful shuffled scan with explicit seed (O27). */
  final case class Shuffled(seed: Long) extends OverlapMode
  /** Scalable order-independent grid snap (documented divergence). */
  case object GridSnap extends OverlapMode

  /** Tiling configuration (reference defaults: main_code.py:50 —
    * batch 300, scale 3, overlap on, 0.7). */
  final case class Config(
      batch: Int,
      scale: Int,
      overlap: Boolean = true,
      pOverlap: Double = 0.7,
      mode: OverlapMode = Greedy)

  /** E3 tiling core: pairs → accepted tiles. Narrow (no shuffle): each pair
    * row is processed where it sits; at 100 TB the parallelism axis is the
    * number of pairs and Spark schedules one kernel call per row. */
  def tilePairs(pairs: Dataset[PairRow], cfg: Config): Dataset[TileRow] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[TileRow]
    pairs.flatMap { p =>
      val cand0 = TileKernel.candidateCenters(p.mask_pixels, p.mask_h, p.mask_w)
      val cand1 = TileKernel.borderFilter(cand0, cfg.batch, p.mask_h, p.mask_w, faithful = true)
      val tiles = cfg.mode match {
        case Greedy =>
          TileKernel.cropPairHv(
            p.hr_pixels, p.hr_h, p.hr_w, p.lr_pixels, p.lr_h, p.lr_w,
            p.n_bands, cand1, cfg.batch, cfg.scale, cfg.overlap, cfg.pOverlap)
        case Shuffled(seed) =>
          TileKernel.cropPairShuffled(
            p.hr_pixels, p.hr_h, p.hr_w, p.lr_pixels, p.lr_h, p.lr_w,
            p.n_bands, cand1, cfg.batch, cfg.scale, cfg.overlap, cfg.pOverlap,
            seed ^ p.pair_id.hashCode.toLong)
        case GridSnap =>
          val stride = math.max(1, (cfg.batch * cfg.pOverlap).toInt)
          val snapped = TileKernel.gridSnap(cand1, stride)
          // quality filter still applies, but acceptance no longer mutates
          // the candidate list — order-independent.
          val half = cfg.batch / 2
          snapped.rs.indices.iterator.flatMap { i =>
            val r0 = snapped.rs(i); val c0 = snapped.cs(i)
            val hr = TileKernel.crop(p.hr_pixels, p.n_bands, p.hr_h, p.hr_w,
              r0 - half, r0 + half, c0 - half, c0 + half)
            val lr = TileKernel.crop(p.lr_pixels, p.n_bands, p.lr_h, p.lr_w,
              Math.floorDiv(r0 - half, cfg.scale), Math.floorDiv(r0 + half, cfg.scale),
              Math.floorDiv(c0 - half, cfg.scale), Math.floorDiv(c0 + half, cfg.scale))
            if (TileKernel.qualityOk(hr, lr, p.n_bands, cfg.batch, cfg.batch,
                cfg.batch / cfg.scale, cfg.batch / cfg.scale, faithfulInfDenom = true))
              Some(TileKernel.Tile(i, r0, c0, hr, lr))
            else None
          }.toVector
      }
      tiles.map(t => TileRow(p.pair_id, t.tileId, t.r, t.c, t.hr, t.lr, cfg.batch, cfg.scale))
    }
  }

  // ------------------------------------------------- DataFrame-level O24/O12

  /** O24 at scale: candidate centers from a masks DataFrame
    * (mask_id, h, w, pixels) without a kernel call — posexplode + filter,
    * fully codegen'd. Returns (mask_id, r, c) in row-major order. */
  def candidatesDF(masks: DataFrame): DataFrame =
    masks
      .select(col("mask_id"), col("h"), col("w"),
        posexplode(col("pixels")).as(Seq("pos", "v")))
      .where(col("v") === 1.0f)
      .select(col("mask_id"), (col("pos") / col("w")).cast("int").as("r"),
        pmod(col("pos"), col("w")).cast("int").as("c"))

  /** O12 at scale, intended-bounds form. */
  def borderFilterDF(cands: DataFrame, masks: DataFrame, batch: Int): DataFrame = {
    val half = batch / 2
    cands.join(masks.select("mask_id", "h", "w"), Seq("mask_id"))
      .where(col("r") >= half && col("r") + half <= col("h") &&
        col("c") >= half && col("c") + half <= col("w"))
      .select(cands.columns.map(col).toIndexedSeq: _*)
  }

  /** O13 at scale, intended-denominator form: the tile-quality metrics over
    * HR/LR pixel-array columns — (hr_nz, lr_nz, lr_nodata, hr_inf) counts.
    * Higher-order functions are fine here: the arrays are tile-sized (b²·n
    * elements) and the counts collapse each array to four ints. */
  def qualityCounts(hr: org.apache.spark.sql.Column, lr: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.Column] = Seq(
    size(filter(hr, v => v =!= 0.0)).as("hr_nz"),
    size(filter(lr, v => v =!= 0.0)).as("lr_nz"),
    size(filter(lr, v => v === -9999.0)).as("lr_nodata"),
    size(filter(hr, v =>
      v === Double.PositiveInfinity || v === Double.NegativeInfinity)).as("hr_inf"))

  /** O13 acceptance predicate over the [[qualityCounts]] columns
    * (fct_data_extraction.py:129–134, intended denominators): ≥99% non-zero
    * in both crops, ≤1% nodata in LR, ≤1% inf in HR. */
  def qualityOkDF(hrNz: org.apache.spark.sql.Column, lrNz: org.apache.spark.sql.Column,
                  lrNodata: org.apache.spark.sql.Column, hrInf: org.apache.spark.sql.Column,
                  hrN: Int, lrN: Int): org.apache.spark.sql.Column =
    (hrNz * 100.0 / hrN >= 99) && (lrNz * 100.0 / lrN >= 99) &&
      (lrNodata * 100.0 / lrN <= 1) && (hrInf * 100.0 / hrN <= 1)

  /** Scalable overlap suppression: first candidate (row-major) per
    * stride-grid cell, as a pure window function — the 100 TB path for O26
    * when faithful sequential semantics aren't required. */
  def gridSnapDF(cands: DataFrame, stride: Int): DataFrame = {
    val w = Window
      .partitionBy(col("mask_id"), (col("r") / stride).cast("int"), (col("c") / stride).cast("int"))
      .orderBy(col("r"), col("c"))
    cands.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Assemble PairRows from relational inputs: a pair table
    * (pair_id, hr_image_id, lr_image_id, mask_id), an images table of D4
    * rows and a masks table of D5 rows. Two shuffle joins on image ids; the
    * pixel payloads move once. */
  def assemblePairs(
      spark: SparkSession,
      pairTable: DataFrame,
      images: DataFrame,
      masks: DataFrame): Dataset[PairRow] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[PairRow]
    val hr = images.select(
      col("image_id").as("hr_image_id"), col("c").as("n_bands"),
      col("h").as("hr_h"), col("w").as("hr_w"), col("pixels").as("hr_pixels"))
    val lr = images.select(
      col("image_id").as("lr_image_id"),
      col("h").as("lr_h"), col("w").as("lr_w"), col("pixels").as("lr_pixels"))
    val mk = masks.select(
      col("mask_id"), col("h").as("mask_h"), col("w").as("mask_w"),
      col("pixels").as("mask_pixels"))
    pairTable
      .join(hr, Seq("hr_image_id"))
      .join(lr, Seq("lr_image_id"))
      .join(mk, Seq("mask_id"))
      .select(col("pair_id"), col("n_bands"),
        col("hr_h"), col("hr_w"), col("hr_pixels"),
        col("lr_h"), col("lr_w"), col("lr_pixels"),
        col("mask_h"), col("mask_w"), col("mask_pixels"))
      .as[PairRow]
  }
}
