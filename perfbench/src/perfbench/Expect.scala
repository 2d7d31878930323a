package perfbench

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import graft.catalog.WeekBins
import graft.tiling.TileKernel

/** What a correct pipeline run must produce, recomputed in plain Scala from
  * the generator's dates and arrays (never from the files it wrote). */
object Expect {

  /** NumPy `histogram` bin of `d` over weekly edges from `first`: NULL out
    * of range, last bin right-closed. */
  def weekBin(d: LocalDate, first: LocalDate, nBins: Int): Option[Int] = {
    val days = ChronoUnit.DAYS.between(first, d)
    if (days < 0 || days > nBins * 7L) None
    else Some(math.min((days / 7).toInt, nBins - 1))
  }

  /** Week class of each in-range scene: the 1-based rank of its bin among
    * the sensor's non-empty bins (the catalog's letter, as a number). */
  def classes(scenes: Seq[Scene]): Map[String, Int] = {
    val (first, nBins) = WeekBins.Ref2023
    val binned = scenes.flatMap(s => weekBin(s.date, first, nBins).map(s.name -> _))
    val rank = binned.map(_._2).distinct.sorted.zipWithIndex.map { case (b, i) => b -> (i + 1) }.toMap
    binned.map { case (n, b) => n -> rank(b) }.toMap
  }

  /** Catalog rows the builder writes: in-range scenes plus one placeholder
    * row per empty weekly bin. */
  def catalogRows(scenes: Seq[Scene]): Int = {
    val (first, nBins) = WeekBins.Ref2023
    val bins = scenes.flatMap(s => weekBin(s.date, first, nBins))
    bins.length + (nBins - bins.distinct.length)
  }

  /** Same-class pairs (placeholders excluded) as (HLS scene, S2 scene):
    * Σ_c L_c · S_c of them. */
  def pairs(c: Corpus): Vector[(Scene, Scene)] = {
    val sc = classes(c.s2); val lc = classes(c.hls)
    for (l <- c.hls if lc.contains(l.name); s <- c.s2 if sc.get(s.name) == lc.get(l.name))
      yield (l, s)
  }

  def pairId(l: Scene, s: Scene): String = s"${l.name}|${s.name}"

  final case class Tiles(candidates: Long, tiles: Long, hash: Long)

  /** Kernel input of every pair: the mask's candidates after the faithful
    * border filter. */
  def candidates(c: Corpus): TileKernel.Candidates =
    TileKernel.borderFilter(
      TileKernel.candidateCenters(c.mask, c.shape.hr, c.shape.hr),
      c.shape.batch, c.shape.hr, c.shape.hr, faithful = true)

  /** Tiles of one pair by the greedy kernel on the generator's arrays. */
  def pairTiles(c: Corpus, hr: Array[Float], lr: Array[Float],
                cand: TileKernel.Candidates): Vector[TileKernel.Tile] =
    TileKernel.cropPairHv(hr, c.shape.hr, c.shape.hr, lr, c.shape.lr, c.shape.lr,
      Corpus.NBands, cand, c.shape.batch, c.shape.scale, overlap = true, pOverlap = 0.7)

  /** Tile count and order-independent hash over all pairs, on `threads`. */
  def tiles(c: Corpus, pairs: Vector[(Scene, Scene)], threads: Int): Tiles = {
    val cand = candidates(c)
    val hr = new java.util.concurrent.ConcurrentHashMap[Int, Array[Float]]()
    val lr = new java.util.concurrent.ConcurrentHashMap[Int, Array[Float]]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = pairs.map { case (l, s) =>
        pool.submit(new java.util.concurrent.Callable[(Long, Long)] {
          def call(): (Long, Long) = {
            val h = hr.computeIfAbsent(s.index, i => c.pixels(Corpus.S2, i))
            val w = lr.computeIfAbsent(l.index, i => c.pixels(Corpus.HLS, i))
            val ts = pairTiles(c, h, w, cand)
            val id = pairId(l, s)
            (ts.length.toLong, ts.map(t => tileHash(id, t.tileId, t.r, t.c, t.hr, t.lr)).sum)
          }
        })
      }
      val got = futures.map(_.get())
      Tiles(cand.size.toLong * pairs.length, got.map(_._1).sum, got.map(_._2).sum)
    } finally pool.shutdownNow()
  }

  private def mix(h: Long, v: Long): Long = {
    var x = (h ^ v) * 0x9E3779B97F4A7C15L
    x ^= x >>> 29
    x * 0xBF58476D1CE4E5B9L
  }

  /** 64-bit hash of one tile; summed over tiles it is order-independent. */
  def tileHash(pairId: String, tileId: Int, r: Int, c: Int,
               hr: Array[Float], lr: Array[Float]): Long = {
    var h = 0x243F6A8885A308D3L
    var i = 0
    while (i < pairId.length) { h = mix(h, pairId.charAt(i).toLong); i += 1 }
    h = mix(mix(mix(mix(h, tileId.toLong), r.toLong), c.toLong), hr.length.toLong)
    i = 0
    while (i < hr.length) { h = mix(h, java.lang.Float.floatToRawIntBits(hr(i)).toLong); i += 1 }
    h = mix(h, lr.length.toLong)
    i = 0
    while (i < lr.length) { h = mix(h, java.lang.Float.floatToRawIntBits(lr(i)).toLong); i += 1 }
    h ^ (h >>> 31)
  }
}
