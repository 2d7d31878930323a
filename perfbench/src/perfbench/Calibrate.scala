package perfbench

import java.nio.file.Paths

import graft.SparkEntry

/** Lists every registry row with two timed runs and two output hashes, to
  * choose (or re-record) the registry_floor subset:
  * `perfbench.Calibrate <sfDir> <workDir> [name...]`. Prints
  * `module<TAB>name<TAB>seconds1<TAB>seconds2<TAB>hash1<TAB>hash2`. */
object Calibrate {
  private val Modules = Seq(
    "ref" -> graft.queries.RefQueries.queries, "dedup" -> graft.queries.DedupQueries.queries,
    "text" -> graft.queries.TextQueries.queries, "similarity" -> graft.queries.SimilarityQueries.queries,
    "streaming" -> graft.queries.StreamingQueries.queries, "tiling" -> graft.queries.TilingQueries.queries,
    "multimodal" -> graft.queries.MultimodalQueries.queries, "ops" -> graft.queries.OpsQueries.queries,
    "curation" -> graft.queries.CurationQueries.queries, "raster" -> graft.queries.RasterQueries.queries,
    "format" -> graft.queries.FormatQueries.queries, "web" -> graft.queries.WebQueries.queries)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Main.session(Paths.get(args(1)).toAbsolutePath)
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
      names.foreach { n =>
        val module = Modules.find(_._2.contains(n)).map(_._1).getOrElse("?")
        val runs = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val h = try Registry.outputHash(SparkEntry.queries(n)(spark, sfDir)).toString
            catch { case e: Exception => s"ERROR:${e.getClass.getSimpleName}" }
          spark.catalog.clearCache()
          ((System.nanoTime() - t0) / 1e9, h)
        }
        println(f"$module\t$n\t${runs(0)._1}%.3f\t${runs(1)._1}%.3f\t${runs(0)._2}\t${runs(1)._2}")
      }
    } finally spark.stop()
  }
}
