package graft.tiling

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tiling.TileKernel.Candidates

/** Tiling parity against the reference oracle: fixtures + expected results
  * under src/test/resources/tiling were generated by
  * scripts/ref_tiling_oracle.py — a mechanical numpy translation of the
  * reference's little_pair (fct_data_extraction.py) and v1 walk — so these
  * tests compare the distributed engine against independently executed
  * reference semantics, pixel-for-pixel (md5 over float32 LE tile bytes in
  * acceptance order, matching numpy `tobytes`).
  */
class TilingSpec extends SparkSpec {
  import spark.implicits._

  private val res = "src/test/resources/tiling"
  private lazy val images = spark.read.parquet(s"$res/images.parquet")
  private lazy val masks = spark.read.parquet(s"$res/masks.parquet")
  private lazy val expected: Map[String, (Seq[(Int, Int)], String)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$res/expected.tsv")).asScala
      .filter(_.nonEmpty)
      .map { line =>
        val parts = line.split("\t", -1)
        val pts =
          if (parts.length < 3 || parts(2).isEmpty) Seq.empty[(Int, Int)]
          else parts(2).split(";").toSeq.map { p =>
            val Array(r, c) = p.split(","); (r.toInt, c.toInt)
          }
        parts(0) -> (pts, parts(1))
      }.toMap
  }

  private def pairRow(hrId: String, lrId: String, maskId: String): DataFrame =
    Seq((s"$hrId|$lrId", hrId, lrId, maskId))
      .toDF("pair_id", "hr_image_id", "lr_image_id", "mask_id")

  private def md5Tiles(tiles: Seq[TileRow]): String = {
    val md = MessageDigest.getInstance("MD5")
    tiles.sortBy(_.tile_id).foreach { t =>
      def put(a: Array[Float]): Unit = {
        val bb = ByteBuffer.allocate(a.length * 4).order(ByteOrder.LITTLE_ENDIAN)
        a.foreach(bb.putFloat)
        md.update(bb.array())
      }
      put(t.hr); put(t.lr)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def runFixture(hrId: String, lrId: String, maskId: String,
                         cfg: TileJobs.Config): Seq[TileRow] = {
    val pairs = TileJobs.assemblePairs(spark, pairRow(hrId, lrId, maskId), images, masks)
    TileJobs.tilePairs(pairs, cfg).collect().toSeq.sortBy(_.tile_id)
  }

  private val faithful = TileJobs.Config(batch = 6, scale = 3)

  test("F1 horizontal centerline: greedy scan matches reference oracle") {
    val got = runFixture("hr_ones", "lr_ones", "mask_h15", faithful)
    val (exp, md5) = expected("F1")
    assert(got.map(t => (t.r, t.c)) == exp)
    assert(md5Tiles(got) == md5)
  }

  test("F2 vertical centerline: overlap interval wipes the column") {
    val got = runFixture("hr_ones", "lr_ones", "mask_v15", faithful)
    val (exp, md5) = expected("F2")
    assert(got.map(t => (t.r, t.c)) == exp)
    assert(md5Tiles(got) == md5)
  }

  test("F4 random mask + defects: quality filter + greedy matches oracle") {
    val got = runFixture("hr_rand", "lr_rand", "mask_rand", faithful)
    val (exp, md5) = expected("F4")
    assert(got.map(t => (t.r, t.c)) == exp)
    assert(md5Tiles(got) == md5)
  }

  test("F5 no-overlap mode matches oracle (153 tiles, quality-rejects rest)") {
    val got = runFixture("hr_rand", "lr_rand", "mask_rand",
      faithful.copy(overlap = false, pOverlap = 1.0))
    val (exp, md5) = expected("F5")
    assert(got.map(t => (t.r, t.c)) == exp)
    assert(md5Tiles(got) == md5)
  }

  test("grid-snap divergence vs faithful greedy is QUANTIFIED on the fixtures (O26)") {
    // The scalable order-independent mode (gridSnap) is a documented
    // divergence from the reference's sequential greedy suppression; this
    // pins the divergence numerically — (greedy tiles, snap tiles, common
    // acceptances) per fixture — so the trade is visible, not anecdotal.
    val cases = Seq(
      ("F1", "hr_ones", "lr_ones", "mask_h15", faithful),
      ("F2", "hr_ones", "lr_ones", "mask_v15", faithful),
      ("F4", "hr_rand", "lr_rand", "mask_rand", faithful),
      ("F5", "hr_rand", "lr_rand", "mask_rand",
        faithful.copy(overlap = false, pOverlap = 1.0)))
    val got = cases.map { case (name, hr, lr, mk, cfg) =>
      val greedy = runFixture(hr, lr, mk, cfg).map(t => (t.r, t.c)).toSet
      val snap = runFixture(hr, lr, mk, cfg.copy(mode = TileJobs.GridSnap))
        .map(t => (t.r, t.c)).toSet
      (name, greedy.size, snap.size, (greedy & snap).size)
    }
    // Pinned profile (greedy, snap, common). Readings: F1 — greedy's
    // len-bug interval (Q5) under-suppresses along a row, snap thins 17→6
    // with 5 shared; F2 — greedy's row-interval wipes the whole column
    // after ONE acceptance, snap keeps a regular 6; F4 — greedy's
    // acceptance-order suppression and snap's stride grid pick mostly
    // different survivors from the random mask (2 shared); F5 — overlap
    // off: greedy keeps all 153 quality-passing tiles, snap is a strict
    // 21-tile stride-6 subset (21 common — snap ⊂ greedy, as it must be
    // when nothing is suppressed).
    assert(got == Seq(
      ("F1", 17, 6, 5),
      ("F2", 1, 6, 1),
      ("F4", 5, 31, 2),
      ("F5", 153, 21, 21)), s"divergence profile moved: $got")
  }

  test("F6 v1 column walk matches oracle") {
    val img = images.where($"image_id" === "hr_rand").collect()(0)
    val mk = masks.where($"mask_id" === "mask_h15").collect()(0)
    val tiles = TileKernel.v1Walk(
      img.getSeq[Float](img.fieldIndex("pixels")).toArray, 4, 30, 30,
      mk.getSeq[Float](mk.fieldIndex("pixels")).toArray, 30, 30,
      numberPairs = 4, size = 6)
    val (exp, md5) = expected("F6_v1")
    assert(tiles.map(t => (t.r, t.c)) == exp)
    val md = MessageDigest.getInstance("MD5")
    tiles.foreach { t =>
      val bb = ByteBuffer.allocate(t.hr.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      t.hr.foreach(bb.putFloat); md.update(bb.array())
    }
    assert(md.digest().map("%02x".format(_)).mkString == md5)
  }

  test("F7 v1 walk aborts empty on border violation") {
    val img = images.where($"image_id" === "hr_rand").collect()(0)
    val mk = masks.where($"mask_id" === "mask_h15").collect()(0)
    val maskPx = mk.getSeq[Float](mk.fieldIndex("pixels")).toArray.clone()
    maskPx(2 * 30 + 9) = 1.0f // col 9 first row = 2 < half → abort
    val tiles = TileKernel.v1Walk(
      img.getSeq[Float](img.fieldIndex("pixels")).toArray, 4, 30, 30,
      maskPx, 30, 30, numberPairs = 4, size = 6)
    assert(tiles.isEmpty)
  }

  test("quality counts: non-zero and inf cells of HR, non-zero and -9999 cells of LR") {
    // -0.0 is a zero; -9999 in HR and inf in LR are plain non-zero cells
    val hr = Array(0f, -0f, 1f, Float.PositiveInfinity, Float.NegativeInfinity, 2f, -9999f, 3f)
    val lr = Array(-9999f, 0f, 5f, -9999f, Float.PositiveInfinity, 0f)
    assert(TileKernel.qualityCounts(hr, lr) ==
      TileKernel.QualityCounts(hrNz = 6, hrInf = 2, lrNz = 4, lrNodata = 2))
  }

  test("quality thresholds trip independently") {
    val n = 1; val b = 6; val lb = 2
    val ones = Array.fill(b * b)(1.0f)
    val lrOnes = Array.fill(lb * lb)(1.0f)
    assert(TileKernel.qualityOk(ones, lrOnes, n, b, b, lb, lb, true))
    // >1% zeros in HR (2 of 36 = 94.4% nonzero)
    val zeros = ones.clone(); zeros(0) = 0f; zeros(1) = 0f
    assert(!TileKernel.qualityOk(zeros, lrOnes, n, b, b, lb, lb, true))
    // one -9999 in LR (25% > 1%)
    val nine = lrOnes.clone(); nine(0) = -9999f
    assert(!TileKernel.qualityOk(ones, nine, n, b, b, lb, lb, true))
    // 40 infs in a 100×100 HR tile, LR 33×33: faithful denom = 33*100 →
    // 40*100/3300 = 1.21% > 1 → reject; intended denom = 10000 →
    // 0.4% ≤ 1 → accept. The mixed-dimension denominator (quirk: inf% uses
    // lr_h × hr_w) is exactly what splits the two modes here.
    val bigHr = Array.fill(100 * 100)(1.0f)
    (0 until 40).foreach(i => bigHr(i) = Float.PositiveInfinity)
    val bigLr = Array.fill(33 * 33)(1.0f)
    assert(!TileKernel.qualityOk(bigHr, bigLr, n, 100, 100, 33, 33, true))
    assert(TileKernel.qualityOk(bigHr, bigLr, n, 100, 100, 33, 33, false))
  }

  test("band stack: deterministic beta order regardless of input order") {
    val perBand = Seq(
      ("img1", "B05", 2, 2, Seq(5f, 5f, 5f, 5f)),
      ("img1", "B02", 2, 2, Seq(2f, 2f, 2f, 2f)),
      ("img1", "B04", 2, 2, Seq(4f, 4f, 4f, 4f)),
      ("img1", "B03", 2, 2, Seq(3f, 3f, 3f, 3f)),
      ("img2", "B02", 2, 2, Seq(9f, 9f, 9f, 9f)) // incomplete → dropped
    ).toDF("image_id", "band", "h", "w", "pixels")
    val stacked = graft.raster.Bands.stack(perBand, graft.raster.Bands.LandsatBands, "L8")
    val rows = stacked.collect()
    assert(rows.length == 1)
    val px = rows(0).getSeq[Float](rows(0).fieldIndex("pixels"))
    assert(px == Seq(2f, 2f, 2f, 2f, 3f, 3f, 3f, 3f, 4f, 4f, 4f, 4f, 5f, 5f, 5f, 5f))
  }

  test("band file filter: anchored tokens, no B20 false match, no xml") {
    val names = Seq("scene_B02.tif", "scene_B20.tif", "scene_B02.xml",
      "scene.B05.tif", "scene_B5.tif").toDF("name")
    val kept = names.where(graft.raster.Bands.bandFileFilter(col("name"),
      graft.raster.Bands.LandsatBands)).as[String].collect().toSet
    assert(kept == Set("scene_B02.tif", "scene.B05.tif"))
  }

  test("sequential kernels REJECT over-threshold candidate lists loudly") {
    // a pathological dense centerline: more candidates than the explicit
    // sequential-scale ceiling — both order-dependent kernels must fail
    // fast naming the scalable grid-snap mode, never grind quadratically
    val n = TileKernel.MaxSequentialCandidates + 1
    val dense = Candidates(Array.tabulate(n)(i => 8 + i / 512),
      Array.tabulate(n)(i => 8 + i % 512))
    val hr = new Array[Float](16 * 16)
    val lr = new Array[Float](8 * 8)
    for (kernel <- Seq(
        () => TileKernel.cropPairHv(hr, 16, 16, lr, 8, 8, 1, dense,
          batch = 8, scale = 2, overlap = true, pOverlap = 0.7),
        () => TileKernel.cropPairShuffled(hr, 16, 16, lr, 8, 8, 1, dense,
          batch = 8, scale = 2, overlap = true, pOverlap = 0.7, seed = 1L))) {
      val err = intercept[IllegalArgumentException](kernel())
      assert(err.getMessage.contains("GridSnap"), err.getMessage)
      assert(err.getMessage.contains("MaxSequentialCandidates"), err.getMessage)
    }
    // one under the ceiling still runs (the bound is the only change)
    val ok = Candidates(Array(8), Array(8))
    TileKernel.cropPairHv(hr, 16, 16, lr, 8, 8, 1, ok,
      batch = 8, scale = 2, overlap = true, pOverlap = 0.7)
  }
  // -- the in-place quality check against its reference form ------------

  /** Asserts that alignedTile at (r0, c0) decides, and crops, as the
    * reference form does: crop both windows, then qualityOk with the
    * faithful inf denominator. @return the reference's decision */
  private def sameAsReference(hr: Array[Float], hrH: Int, hrW: Int,
      lr: Array[Float], lrH: Int, lrW: Int,
      nBands: Int, batch: Int, scale: Int, r0: Int, c0: Int): Boolean = {
    val half = batch / 2
    val refHr = TileKernel.crop(hr, nBands, hrH, hrW, r0 - half, r0 + half, c0 - half, c0 + half)
    val refLr = TileKernel.crop(lr, nBands, lrH, lrW,
      Math.floorDiv(r0 - half, scale), Math.floorDiv(r0 + half, scale),
      Math.floorDiv(c0 - half, scale), Math.floorDiv(c0 + half, scale))
    val want = TileKernel.qualityOk(refHr, refLr, nBands, batch, batch,
      batch / scale, batch / scale, faithfulInfDenom = true)
    val got = TileKernel.alignedTile(5, r0, c0, hr, hrH, hrW, lr, lrH, lrW, nBands, batch, scale)
    val at = s"batch $batch, scale $scale, $nBands bands, ${hrH}x$hrW at ($r0, $c0)"
    assert(got.isDefined == want, at)
    def sameBits(a: Array[Float], b: Array[Float]) = a.length == b.length &&
      a.indices.forall(i => java.lang.Float.floatToRawIntBits(a(i)) ==
        java.lang.Float.floatToRawIntBits(b(i)))
    for (t <- got) {
      assert((t.tileId, t.r, t.c) == ((5, r0, c0)), at)
      assert(sameBits(t.hr, refHr) && sameBits(t.lr, refLr), at)
    }
    want
  }

  /** `n` non-zero values of either sign, none of them -9999 or infinite. */
  private def nonZero(rng: scala.util.Random, n: Int): Array[Float] =
    Array.fill(n)((1 + rng.nextInt(1000)).toFloat * (if (rng.nextBoolean()) 1 else -1))

  test("alignedTile equals crop + qualityOk exactly at, and one past, each quality bound") {
    val rng = new scala.util.Random(20261019L)
    // (batch, scale, bands). 201 is odd: its crop is 200², which meets 99%
    // of 201² when clean, so it has bounds to cross.
    for ((batch, scale, nBands) <- Seq((30, 3, 2), (20, 2, 3), (201, 3, 1), (201, 2, 1))) {
      val half = batch / 2
      val hrSide = batch + 4 * scale
      val lrSide = hrSide / scale
      // an interior center whose LR window has the full batch / scale edge
      def fullLr(x: Int) =
        Math.floorDiv(x + half, scale) - Math.floorDiv(x - half, scale) == batch / scale
      val r0 = Iterator.from(hrSide / 2).find(fullLr).get
      val c0 = Iterator.from(hrSide / 2 + 1).find(fullLr).get
      val hr0 = nonZero(rng, nBands * hrSide * hrSide)
      val lr0 = nonZero(rng, nBands * lrSide * lrSide)
      def cells(side: Int, r1: Int, r2: Int, c1: Int, c2: Int) =
        rng.shuffle(for (b <- 0 until nBands; r <- r1 until r2; c <- c1 until c2)
          yield b * side * side + r * side + c)
      val hrCells = cells(hrSide, r0 - half, r0 + half, c0 - half, c0 + half)
      val lrCells = cells(lrSide, Math.floorDiv(r0 - half, scale), Math.floorDiv(r0 + half, scale),
        Math.floorDiv(c0 - half, scale), Math.floorDiv(c0 + half, scale))
      // (side, defect, whether it counts against a bound on that side)
      val defects = Seq(("hr", 0f, true), ("hr", Float.PositiveInfinity, true),
        ("hr", Float.NegativeInfinity, true), ("hr", Float.NaN, false), ("hr", -9999f, false),
        ("lr", 0f, true), ("lr", -9999f, true), ("lr", Float.NaN, false),
        ("lr", Float.PositiveInfinity, false))
      for ((side, v, bounded) <- defects) {
        val (hr, lr) = (hr0.clone(), lr0.clone())
        val (window, px) = if (side == "hr") (hrCells, hr) else (lrCells, lr)
        // every bound is under 2% of the window
        val ks = window.size / 50 + 3
        // k defects in the window, k = 0, 1, … up to the first reject
        val accepted = (0 until ks).iterator.map { k =>
          if (k > 0) px(window(k - 1)) = v
          sameAsReference(hr, hrSide, hrSide, lr, lrSide, lrSide, nBands, batch, scale, r0, c0)
        }.takeWhile(identity).size
        val at = s"$v in $side, batch $batch, scale $scale: $accepted accepted"
        // bounded: accepted at its bound (accepted - 1 defects), rejected one past it
        if (bounded) assert(accepted >= 1 && accepted < ks, at)
        else assert(accepted == ks, at)
      }
    }
  }

  test("alignedTile equals crop + qualityOk on windows clipped at each edge") {
    // a clean 240² HR / 120² LR pair: a window that sticks out by o rows or
    // columns has o·200 zero-filled HR cells (0.5% per line) and ~o/2
    // zero-filled LR lines of 100 (1% each)
    val rng = new scala.util.Random(7L)
    val (batch, scale, hrSide, lrSide) = (200, 2, 240, 120)
    val (hr, lr) = (nonZero(rng, hrSide * hrSide), nonZero(rng, lrSide * lrSide))
    val (lo, hi, mid) = (batch / 2, hrSide - batch / 2, hrSide / 2)
    val edges = Seq[(String, Int => (Int, Int))](
      "top" -> (o => (lo - o, mid)), "bottom" -> (o => (hi + o, mid)),
      "left" -> (o => (mid, lo - o)), "right" -> (o => (mid, hi + o)),
      "corner" -> (o => (lo - o, hi + o)))
    for ((edge, center) <- edges) {
      val decisions = (0 to 5).map { o =>
        val (r0, c0) = center(o)
        sameAsReference(hr, hrSide, hrSide, lr, lrSide, lrSide, 1, batch, scale, r0, c0)
      }
      // in bounds, then accepted while the zero fill stays within 1%, then not
      assert(decisions.head && decisions.tail.contains(true) && !decisions.last, s"$edge: $decisions")
    }
  }

  test("alignedTile equals crop + qualityOk on seeded random images and windows") {
    val rng = new scala.util.Random(42L)
    val marks = Array(0f, Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -9999f)
    def image(n: Int, defectRate: Double) = nonZero(rng, n).map { v =>
      if (rng.nextDouble() < defectRate) marks(rng.nextInt(marks.length)) else v
    }
    var outcomes = Set.empty[Boolean]
    for (_ <- 0 until 300) {
      val scale = 2 + rng.nextInt(2)
      val batch = Seq(2, 4, 5, 6, 7, 9, 12, 13)(rng.nextInt(8))
      val nBands = Seq(1, 2, 4)(rng.nextInt(3))
      val lrSide = 4 + rng.nextInt(10)
      val hrSide = lrSide * scale
      val rate = Seq(0.0, 0.003, 0.02)(rng.nextInt(3))
      val (hr, lr) = (image(nBands * hrSide * hrSide, rate), image(nBands * lrSide * lrSide, rate))
      for (_ <- 0 until 10)
        outcomes += sameAsReference(hr, hrSide, hrSide, lr, lrSide, lrSide, nBands, batch, scale,
          rng.nextInt(hrSide + 6) - 3, rng.nextInt(hrSide + 6) - 3)
    }
    assert(outcomes == Set(true, false))
  }
  test("assemblePairs: the three equi-joins' rows, with only paired LR images broadcast") {
    def img(id: String, v: Float, side: Int) = (id, 1, side, side, Array.fill(side * side)(v))
    val images = Seq(
      img("hr_a", 1f, 6), img("hr_b", 2f, 6),           // HR only
      img("lr_a", 3f, 2), img("lr_dup", 4f, 2),         // LR only, one id twice
      img("lr_dup", 5f, 2),
      img("spare_hr", 6f, 6), img("spare_lr", 7f, 2),   // no pair names them
      img(null, 8f, 2))
      .toDF("image_id", "c", "h", "w", "pixels")
    val masks = Seq(("m", 6, 6, Array.fill(36)(1f))).toDF("mask_id", "h", "w", "pixels")
    val pairTable = Seq(
      ("p1", "hr_a", "lr_a", "m"), ("p2", "hr_b", "lr_dup", "m"),
      ("p3", "hr_a", null, "m"), ("p4", "hr_b", "lr_gone", "m"), ("p5", "hr_gone", "lr_a", "m"))
      .toDF("pair_id", "hr_image_id", "lr_image_id", "mask_id")
    // the LR images that pairs name: lr_a once, lr_dup twice
    val pairedLr = 3L

    val inline = pairTable
      .join(images.select($"image_id".as("hr_image_id"), $"c".as("n_bands"),
        $"h".as("hr_h"), $"w".as("hr_w"), $"pixels".as("hr_pixels")), Seq("hr_image_id"))
      .join(images.select($"image_id".as("lr_image_id"),
        $"h".as("lr_h"), $"w".as("lr_w"), $"pixels".as("lr_pixels")), Seq("lr_image_id"))
      .join(masks.select($"mask_id", $"h".as("mask_h"), $"w".as("mask_w"),
        $"pixels".as("mask_pixels")), Seq("mask_id"))
      .select("pair_id", "n_bands", "hr_h", "hr_w", "hr_pixels", "lr_h", "lr_w", "lr_pixels",
        "mask_h", "mask_w", "mask_pixels")
    def hash(df: DataFrame) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(struct(*)))")).head()
      (r.getLong(0), r.getLong(1))
    }
    val assembled = TileJobs.assemblePairs(spark, pairTable, images, masks).toDF()
    assert(hash(assembled) == hash(inline))
    assert(hash(inline)._1 == 3, "p1 once and p2 once per lr_dup row")

    assembled.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case n => Seq(n)
    }
    val lrBroadcast = nodes(assembled.queryExecution.executedPlan).collect {
      case b: BroadcastExchangeExec if b.output.exists(_.name == "lr_pixels") => b
    }
    assert(lrBroadcast.size == 1, assembled.queryExecution.executedPlan)
    val semi = lrBroadcast.head.child.collectFirst { case j: BaseJoinExec => j }
    assert(semi.map(_.joinType).contains(LeftSemi), lrBroadcast.head)
    assert(semi.get.metrics("numOutputRows").value == pairedLr)
  }
}
