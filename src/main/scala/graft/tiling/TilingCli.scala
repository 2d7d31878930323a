package graft.tiling

import graft.GraftSession

/** E3 pipeline entry point — the engine's equivalent of the reference's
  * tensor_creator + dataset_creation drive (main_code.py:29–84): read a pair
  * table, the image tensors and centerline masks, run the tiling kernel per
  * pair in parallel, write accepted HR/LR tile pairs as Parquet (the
  * engine's replacement for per-pair .pth tensors, SURVEY.md D6/O7).
  *
  * Usage: TilingCli <pairs.parquet> <images.parquet> <masks.parquet> <outDir>
  *          [batch=300] [scale=3] [pOverlap=0.7] [mode=greedy|shuffled|grid]
  * pairs schema: (pair_id, hr_image_id, lr_image_id, mask_id)
  */
object TilingCli {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: TilingCli <pairs.parquet> <images.parquet> <masks.parquet> <outDir> " +
          "[batch] [scale] [pOverlap] [greedy|shuffled|grid]")
      sys.exit(2)
    }
    val Array(pairsPath, imagesPath, masksPath, outDir) = args.take(4)
    val batch = if (args.length > 4) args(4).toInt else 300
    val scale = if (args.length > 5) args(5).toInt else 3
    val pOv = if (args.length > 6) args(6).toDouble else 0.7
    val mode = (if (args.length > 7) args(7) else "greedy") match {
      case "shuffled" => TileJobs.Shuffled(seed = 42L)
      case "grid" => TileJobs.GridSnap
      case _ => TileJobs.Greedy
    }
    val spark = GraftSession.build("graft-tiling")

    val pairs = TileJobs.assemblePairs(spark,
      spark.read.parquet(pairsPath),
      spark.read.parquet(imagesPath),
      spark.read.parquet(masksPath))
    val tiles = TileJobs.tilePairs(pairs,
      TileJobs.Config(batch, scale, overlap = true, pOverlap = pOv, mode = mode))
    tiles.write.mode("overwrite").parquet(s"$outDir/tiles")
    val n = spark.read.parquet(s"$outDir/tiles").count()
    println(s"tiles_written=$n")
    spark.stop()
  }
}
