package graft.pairing

import graft.GraftSession

/** E2 pipeline entry point — the engine's equivalent of the reference's pair
  * step (main_code.py:24–27): read the two sensor catalogs, join on weekly
  * class, write the pair table.
  *
  * Usage: PairCli <L_catalog.csv> <S_catalog.csv> <outDir> [--native]
  * Default writes the faithful compat CSV (`data_2` as Python list-repr,
  * quirk Q3); `--native` writes Parquet with a true ARRAY<STRING> column.
  */
object PairCli {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: PairCli <L_catalog.csv> <S_catalog.csv> <outDir> [--native]")
      sys.exit(2)
    }
    val Array(lCsv, sCsv, outDir) = args.take(3)
    val native = args.contains("--native")
    val spark = GraftSession.build("graft-pair")

    def cat(p: String) = spark.read.option("header", true).csv(p)
    val pairs = Pairing.pathsPair(cat(lCsv), cat(sCsv))
    if (native)
      pairs.write.mode("overwrite").parquet(s"$outDir/path_pair")
    else
      Pairing.writeCompatCsv(pairs, s"$outDir/path_pair")
    println(s"pairs_written=${pairs.count()}")
    spark.stop()
  }
}
