package graft.tiling

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

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
          snapped.rs.indices.iterator.flatMap { i =>
            TileKernel.alignedTile(i, snapped.rs(i), snapped.cs(i),
              p.hr_pixels, p.hr_h, p.hr_w, p.lr_pixels, p.lr_h, p.lr_w,
              p.n_bands, cfg.batch, cfg.scale)
          }.toVector
      }
      tiles.map(t => TileRow(p.pair_id, t.tileId, t.r, t.c, t.hr, t.lr, cfg.batch, cfg.scale))
    }
  }

  /** Assemble PairRows from relational inputs: a pair table
    * (pair_id, hr_image_id, lr_image_id, mask_id), an images table of D4
    * rows and a masks table of D5 rows. Three equi-joins, on the HR image
    * id, the LR image id and the mask id. The HR side streams the images
    * table against the broadcast pair table. The LR side is first
    * left-semi-joined to the pair table's `lr_image_id`s, so at pipeline
    * sizes the LR broadcast carries only the LR images some pair names, not
    * every image with its HR pixels. The rows are those of the three
    * equi-joins alone: the semi-join drops only LR rows no pair joins.
    * The one E3 assembly: PipelineCli.tile, q183_ingest_pipeline and
    * perfbench's pipeline pass call it. */
  def assemblePairs(
      spark: SparkSession,
      pairTable: DataFrame,
      images: DataFrame,
      masks: DataFrame): Dataset[PairRow] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[PairRow]
    val hr = images.select(
      col("image_id").as("hr_image_id"), col("c").as("n_bands"),
      col("h").as("hr_h"), col("w").as("hr_w"), col("pixels").as("hr_pixels"))
    val lr = images
      .join(pairTable.select(col("lr_image_id").as("image_id")), Seq("image_id"), "left_semi")
      .select(col("image_id").as("lr_image_id"),
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
