package graft.tiling

import scala.collection.mutable.ArrayBuffer

/** Pure per-image tiling kernels — exact ports of the reference's tiling
  * semantics (data_pair/fct_data_extraction.py "little_pair", the shuffled
  * variant in fct_data_extraction_shuffle.py, and the v1 column walk in
  * v1_Landsat_class_operator.py). These run inside executors, one call per
  * image pair (the reference's only sequential-state operators — SURVEY.md
  * §4); everything around them is distributed.
  *
  * Coordinate/layout convention: pixels are NCHW band-major row-major
  * (index = band*h*w + r*w + c); crops are half-open `[r1, r2) × [c1, c2)`
  * like Python slices.
  */
object TileKernel {

  /** One accepted tile pair. */
  final case class Tile(tileId: Int, r: Int, c: Int, hr: Array[Float], lr: Array[Float])

  /** Candidate centers, parallel arrays in np.where (row-major) order. */
  final case class Candidates(rs: Array[Int], cs: Array[Int]) {
    def size: Int = rs.length
  }

  /** O24 — candidate-center extraction: coordinates of mask pixels == 1 in
    * row-major order (np.where semantics, fct_data_extraction.py:61). */
  def candidateCenters(mask: Array[Float], h: Int, w: Int): Candidates = {
    val rs = new ArrayBuffer[Int](); val cs = new ArrayBuffer[Int]()
    var i = 0
    while (i < h * w) {
      if (mask(i) == 1.0f) { rs += i / w; cs += i % w }
      i += 1
    }
    Candidates(rs.toArray, cs.toArray)
  }

  /** O12 — border-validity filter.
    *
    * `faithful = true` reproduces the reference bug (quirk Q5,
    * fct_data_extraction.py:64–65): the upper bounds come from the NUMBER OF
    * CANDIDATES, not the raster dims — `upper = len(candidates)-1-half`.
    * `faithful = false` uses the intended bounds: the crop
    * `[r-half, r+half) × [c-half, c+half)` must lie inside `h × w`.
    */
  def borderFilter(cand: Candidates, batch: Int, h: Int, w: Int, faithful: Boolean): Candidates = {
    val half = batch / 2
    val keep =
      if (faithful) {
        val upperR = cand.size - 1 - half
        val upperC = cand.size - 1 - half
        cand.rs.indices.filter { i =>
          cand.rs(i) > half && cand.cs(i) > half && cand.rs(i) < upperR && cand.cs(i) < upperC
        }
      } else {
        cand.rs.indices.filter(i => cropInBounds(cand.rs(i), cand.cs(i), batch, h, w))
      }
    Candidates(keep.map(cand.rs).toArray, keep.map(cand.cs).toArray)
  }

  /** O12's intended bounds for one candidate: the `batch`-edge crop
    * `[r-half, r+half) × [c-half, c+half)` lies inside `h × w`. */
  def cropInBounds(r: Int, c: Int, batch: Int, h: Int, w: Int): Boolean = {
    val half = batch / 2
    r >= half && r + half <= h && c >= half && c + half <= w
  }

  /** Slice a band-major image: rows [r1, r2), cols [c1, c2) of every band.
    * Out-of-range coordinates are clamped and missing cells left at 0 —
    * mirrors the reference's `torch.zeros` destination buffer (a partial
    * in-range slice would raise in torch; the clamp makes the engine total,
    * and in-bounds calls are bit-identical). */
  def crop(pixels: Array[Float], nBands: Int, h: Int, w: Int,
           r1: Int, r2: Int, c1: Int, c2: Int): Array[Float] = {
    val th = r2 - r1; val tw = c2 - c1
    val out = new Array[Float](nBands * th * tw)
    var b = 0
    while (b < nBands) {
      var r = math.max(r1, 0)
      val rEnd = math.min(r2, h)
      while (r < rEnd) {
        var c = math.max(c1, 0)
        val cEnd = math.min(c2, w)
        while (c < cEnd) {
          out(b * th * tw + (r - r1) * tw + (c - c1)) = pixels(b * h * w + r * w + c)
          c += 1
        }
        r += 1
      }
      b += 1
    }
    out
  }

  /** O13 — tile quality acceptance (fct_data_extraction.py:129–134):
    *   - ≥99% non-zero pixels in the HR crop AND in the LR crop,
    *   - ≤1% `-9999` nodata in the LR crop,
    *   - ≤1% `inf` in the HR crop.
    * `faithfulInfDenom` reproduces the reference's mixed-dimension
    * denominator for the inf percentage (`lr_h * hr_w * n` instead of
    * `hr_h * hr_w * n`).
    *
    * This is the reference form over materialized crops; [[alignedTile]]
    * decides the same counts in place, over the source windows.
    */
  def qualityOk(hr: Array[Float], lr: Array[Float], nBands: Int,
                hrH: Int, hrW: Int, lrH: Int, lrW: Int,
                faithfulInfDenom: Boolean): Boolean = {
    val n = qualityCounts(hr, lr)
    val hrDen = hrH.toDouble * hrW * nBands
    val lrDen = lrH.toDouble * lrW * nBands
    val infDen = if (faithfulInfDenom) lrH.toDouble * hrW * nBands else hrDen
    nonZeroOk(n.hrNz, hrDen) && nonZeroOk(n.lrNz, lrDen) &&
      rareOk(n.lrNodata, lrDen) && rareOk(n.hrInf, infDen)
  }

  /** The four cell counts O13 thresholds. */
  final case class QualityCounts(hrNz: Int, hrInf: Int, lrNz: Int, lrNodata: Int)

  /** O13's counts over a materialized HR/LR crop pair: non-zero and ±inf
    * cells of `hr`, non-zero and `-9999` cells of `lr`. */
  def qualityCounts(hr: Array[Float], lr: Array[Float]): QualityCounts = {
    var nzHr = 0; var infHr = 0
    var i = 0
    while (i < hr.length) {
      val v = hr(i)
      if (v != 0.0f) nzHr += 1
      if (v.isInfinite) infHr += 1
      i += 1
    }
    var nzLr = 0; var nineLr = 0
    i = 0
    while (i < lr.length) {
      val v = lr(i)
      if (v != 0.0f) nzLr += 1
      if (v == -9999.0f) nineLr += 1
      i += 1
    }
    QualityCounts(nzHr, infHr, nzLr, nineLr)
  }

  /** O13's non-zero threshold: at least 99% of `den`. */
  private def nonZeroOk(n: Int, den: Double): Boolean = n * 100.0 / den >= 99
  /** O13's nodata and inf threshold: at most 1% of `den`. */
  private def rareOk(n: Int, den: Double): Boolean = n * 100.0 / den <= 1

  /** The least n in [0, hi] for which `p`, false then true as n grows, holds
    * (hi + 1 if none). */
  private def least(hi: Int)(p: Int => Boolean): Int = {
    var lo = 0; var up = hi + 1
    while (lo < up) {
      val m = (lo + up) >>> 1
      if (p(m)) up = m else lo = m + 1
    }
    lo
  }

  /** Whether the window `[r1, r2) × [c1, c2)` of every band of `pixels`
    * passes O13 without copying it: at least [[nonZeroOk]] of `nzDen`
    * non-zero cells, and at most [[rareOk]] of `markDen` cells equal to
    * `markA` or `markB`. Cells outside the image count as zeros, as
    * [[crop]]'s zero fill does. Both counts only grow, so the scan stops at
    * the first cell that makes either threshold unreachable. */
  private def windowOk(pixels: Array[Float], nBands: Int, h: Int, w: Int,
                       r1: Int, r2: Int, c1: Int, c2: Int,
                       nzDen: Double, markDen: Double, markA: Float, markB: Float): Boolean = {
    val cells = nBands * (r2 - r1) * (c2 - c1)
    val maxZeros = cells - least(cells)(nonZeroOk(_, nzDen))
    val maxMarks = least(cells)(n => !rareOk(n, markDen)) - 1
    val rs = math.max(r1, 0); val re = math.min(r2, h)
    val cs = math.max(c1, 0); val ce = math.min(c2, w)
    val inside = if (re > rs && ce > cs) nBands * (re - rs) * (ce - cs) else 0
    var zeros = cells - inside
    var marks = 0
    if (zeros > maxZeros || maxMarks < 0) return false
    var b = 0
    while (b < nBands) {
      var r = rs
      while (r < re) {
        var i = b * h * w + r * w + cs
        val end = i + (ce - cs)
        while (i < end) {
          val v = pixels(i)
          if (v == 0.0f) {
            zeros += 1
            if (zeros > maxZeros) return false
          } else if (v == markA || v == markB) {
            marks += 1
            if (marks > maxMarks) return false
          }
          i += 1
        }
        r += 1
      }
      b += 1
    }
    true
  }

  /** The aligned HR/LR tile centered at HR pixel (r0, c0) — `batch`-edge
    * HR crop, LR bounds the floor-div of the HR bounds by `scale` — kept
    * only when it passes O13 with the faithful inf denominator. The check
    * counts in place over the two source windows (LR first, the smaller),
    * and only an accepted tile is cropped; `crop` + [[qualityOk]]
    * (`faithfulInfDenom = true`) on the same windows is the reference form
    * it equals. */
  private[tiling] def alignedTile(tileId: Int, r0: Int, c0: Int,
      hrPix: Array[Float], hrH: Int, hrW: Int,
      lrPix: Array[Float], lrH: Int, lrW: Int,
      nBands: Int, batch: Int, scale: Int): Option[Tile] = {
    val half = batch / 2
    val r1 = r0 - half; val r2 = r0 + half; val c1 = c0 - half; val c2 = c0 + half
    val lr1 = Math.floorDiv(r1, scale); val lr2 = Math.floorDiv(r2, scale)
    val lc1 = Math.floorDiv(c1, scale); val lc2 = Math.floorDiv(c2, scale)
    // qualityOk's denominators at hr = batch², lr = (batch / scale)²
    val lrEdge = batch / scale
    val hrDen = batch.toDouble * batch * nBands
    val lrDen = lrEdge.toDouble * lrEdge * nBands
    val infDen = lrEdge.toDouble * batch * nBands
    val ok =
      windowOk(lrPix, nBands, lrH, lrW, lr1, lr2, lc1, lc2, lrDen, lrDen, -9999.0f, -9999.0f) &&
      windowOk(hrPix, nBands, hrH, hrW, r1, r2, c1, c2, hrDen, infDen,
        Float.PositiveInfinity, Float.NegativeInfinity)
    if (ok) Some(Tile(tileId, r0, c0,
      crop(hrPix, nBands, hrH, hrW, r1, r2, c1, c2),
      crop(lrPix, nBands, lrH, lrW, lr1, lr2, lc1, lc2)))
    else None
  }

  /** Hard ceiling for the SEQUENTIAL kernels' candidate lists. The
    * faithful greedy/shuffled suppression is order-dependent by reference
    * semantics, so it runs as one in-memory loop with an O(|cand|²)
    * worst case (every acceptance rescans the list) — a pathological
    * centerline (mask mostly 1s) would otherwise grind a task for hours
    * on a list the intended sparse centerlines never produce. Same
    * discipline as graft.dedup's 1M-edge union-find threshold: an
    * EXPLICIT bound with a loud error naming the scalable alternative,
    * never a silent stall. 2^17 bounds the worst case at ~1.7e10 scans —
    * seconds-to-minutes, not hours. */
  val MaxSequentialCandidates: Int = 1 << 17

  private def requireSequentialScale(cand: Candidates): Unit =
    require(cand.rs.length <= MaxSequentialCandidates,
      s"${cand.rs.length} candidate centers exceed MaxSequentialCandidates " +
        s"($MaxSequentialCandidates): the faithful sequential suppression is " +
        "quadratic and order-dependent, so it cannot scale to masks this " +
        "dense - use OverlapMode.GridSnap, the order-independent " +
        "stride-grid mode, for this input")

  /** O26 — the reference's overlap suppression (fct_data_extraction.py:75–88
    * + trigger at :143–147). NOTE the faithful semantics: the removal
    * interval is `[r_acc + batch·p, c_acc + batch·p]` — its endpoints mix
    * the accepted tile's ROW and COLUMN — and is applied first to rows,
    * then to the surviving candidates' columns. When `c_acc < r_acc` the
    * interval is empty and nothing is removed. */
  private def noOverlap(rs: ArrayBuffer[Int], cs: ArrayBuffer[Int], a: Double, b: Double): Unit = {
    var j = 0
    while (j < rs.length) {
      if (a <= rs(j) && rs(j) <= b) { rs.remove(j); cs.remove(j) } else j += 1
    }
    j = 0
    while (j < cs.length) {
      if (a <= cs(j) && cs(j) <= b) { rs.remove(j); cs.remove(j) } else j += 1
    }
  }

  /** O25+O13+O26 — exact port of `little_pair.crop_pair_hv`
    * (fct_data_extraction.py:90–157): sequential scan over candidates,
    * aligned HR/LR crops (LR coords = floor-div by scale), quality filter,
    * greedy overlap suppression after each acceptance, terminating when the
    * scan index reaches the (shrinking) end of the candidate list.
    *
    * @param hrPix HR image (nBands, hrH, hrW); @param lrPix LR image
    * @param batch HR tile edge; LR tile edge is batch/scale
    */
  def cropPairHv(
      hrPix: Array[Float], hrH: Int, hrW: Int,
      lrPix: Array[Float], lrH: Int, lrW: Int,
      nBands: Int, cand: Candidates,
      batch: Int, scale: Int,
      overlap: Boolean, pOverlap: Double): Vector[Tile] = {
    require(hrH / lrH == scale,
      s"scale $scale must equal the HR/LR dimension ratio (${hrH}/${lrH})")
    requireSequentialScale(cand)
    val rs = ArrayBuffer.from(cand.rs)
    val cs = ArrayBuffer.from(cand.cs)
    val out = Vector.newBuilder[Tile]
    var tileId = 0
    var i = -1
    var continue = rs.nonEmpty
    while (continue) {
      i += 1
      val r0 = rs(i); val c0 = cs(i)
      for (t <- alignedTile(tileId, r0, c0, hrPix, hrH, hrW, lrPix, lrH, lrW,
          nBands, batch, scale)) {
        out += t
        tileId += 1
        if (overlap) {
          val a = r0 + batch * pOverlap
          val b = c0 + batch * pOverlap
          noOverlap(rs, cs, a, b)
        }
      }
      if (i >= rs.length - 1) continue = false
    }
    out.result()
  }

  /** O27 — the shuffled variant (fct_data_extraction_shuffle.py:91–171):
    * identical crops/quality, but the scan position is drawn at random after
    * each acceptance (tracking a `used` list); on rejection the index is NOT
    * advanced (the reference retries the same candidate until the iteration
    * counter overruns the list). The reference is unseeded — this port takes
    * an explicit seed, so results are reproducible but not byte-comparable
    * to any particular reference run (documented divergence).
    */
  def cropPairShuffled(
      hrPix: Array[Float], hrH: Int, hrW: Int,
      lrPix: Array[Float], lrH: Int, lrW: Int,
      nBands: Int, cand: Candidates,
      batch: Int, scale: Int,
      overlap: Boolean, pOverlap: Double,
      seed: Long): Vector[Tile] = {
    require(hrH / lrH == scale, "scale must equal the HR/LR dimension ratio")
    requireSequentialScale(cand)
    val rng = new scala.util.Random(seed)
    val rs = ArrayBuffer.from(cand.rs)
    val cs = ArrayBuffer.from(cand.cs)
    val used = ArrayBuffer.empty[Int]
    val out = Vector.newBuilder[Tile]
    var tileId = 0
    var index = 0
    var i = -1
    var continue = rs.nonEmpty
    while (continue) {
      i += 1
      val r0 = rs(index); val c0 = cs(index)
      val accepted = alignedTile(tileId, r0, c0, hrPix, hrH, hrW, lrPix, lrH, lrW,
        nBands, batch, scale)
      if (accepted.isDefined) {
        out += accepted.get
        tileId += 1
        if (overlap) {
          noOverlap(rs, cs, r0 + batch * pOverlap, c0 + batch * pOverlap)
          if (rs.nonEmpty) {
            if (!used.contains(index)) {
              used += index
              index = rng.nextInt(rs.length)
            } else if ((0 until rs.length).exists(j => !used.contains(j))) {
              while (used.contains(index)) index = rng.nextInt(rs.length)
            } else {
              // port safety: every remaining index already used — the
              // unseeded reference would spin forever here
              continue = false
            }
          }
        } else {
          index += 1
        }
      }
      if (i >= rs.length - 1) continue = false
      else if (index >= rs.length) continue = false // port safety: unseeded ref would raise
    }
    out.result()
  }

  /** O28 — the v1 column-stride walk (v1_Landsat_class_operator.py:27–75):
    * walk columns at stride `size/2` starting at `size/2`; at each column
    * take the FIRST centerline row (O23), crop `size×size` from band 0.
    * Faithful to the reference, a border violation aborts and returns
    * NOTHING (`return ()`), and `numberPairs-1` crops are produced at most.
    * A column with no centerline hit raises in the reference (IndexError);
    * here it also aborts empty.
    */
  def v1Walk(
      pixels: Array[Float], nBands: Int, h: Int, w: Int,
      mask: Array[Float], maskH: Int, maskW: Int,
      numberPairs: Int, size: Int): Vector[Tile] = {
    val half = size / 2
    var shift = half
    val out = Vector.newBuilder[Tile]
    var nb = 0
    while (nb < numberPairs - 1) {
      nb += 1
      var firstR = -1
      var r = 0
      while (firstR < 0 && r < maskH) {
        if (shift < maskW && mask(r * maskW + shift) == 1.0f) firstR = r
        r += 1
      }
      if (firstR < 0) return Vector.empty
      val r1 = firstR - half; val r2 = firstR + half
      val c1 = shift - half; val c2 = shift + half
      if (r1 < 0 || r2 > h || c1 < 0 || c2 > w) return Vector.empty
      out += Tile(nb - 1, firstR, shift, crop(pixels, 1, h, w, r1, r2, c1, c2), Array.empty)
      shift += half
    }
    out.result()
  }

  /** Scalable overlap mode (documented divergence from O26): snap candidates
    * to a `stride × stride` grid and keep the first (row-major) candidate
    * per cell. Order-independent, so it needs no sequential scan; the
    * pipeline runs it per pair in `TileJobs.tilePairs`' GridSnap mode. */
  def gridSnap(cand: Candidates, stride: Int): Candidates = {
    val seen = scala.collection.mutable.HashSet.empty[(Int, Int)]
    val keep = cand.rs.indices.filter { i =>
      seen.add((cand.rs(i) / stride, cand.cs(i) / stride))
    }
    Candidates(keep.map(cand.rs).toArray, keep.map(cand.cs).toArray)
  }
}
