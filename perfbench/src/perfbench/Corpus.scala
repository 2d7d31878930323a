package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.catalog.WeekBins
import graft.raster.{Bands, CenterlineMask}

/** Size and shape of one pipeline corpus.
  *
  * @param weeks   acquisitions per week as (S2, HLS), a multiset the seed
  *                deals over consecutive whole weeks of the reference year.
  *                Every week holds both sensors, so week k is class k for
  *                both and the pair count Σ S·HLS is the same for every seed
  * @param hr      HR (Sentinel-2) scene edge; the LR (HLS) edge is hr/scale
  * @param validFrac share of scene columns inside the swath; the rest is
  *                fill (0 in HR, -9999 in LR)
  */
final case class Shape(
    weeks: Seq[(Int, Int)],
    hr: Int, scale: Int, batch: Int, tiffTile: Int, validFrac: Double) {
  val lr: Int = hr / scale
  require(hr / lr == scale, s"HR edge $hr must be scale × the LR edge")
  require(weeks.forall { case (s, l) => s >= 1 && l >= 1 && s <= 7 && l <= 7 })
}

/** One acquisition: its listing name and the file-name stem of its bands. */
final case class Scene(name: String, date: LocalDate, index: Int)

/** Seeded synthetic Sentinel-2/HLS corpus over MGRS tile T46RCT: listings
  * in the recovered name grammars, 4-band int16 scenes as Deflate-tiled
  * GeoTIFF band files (no Predictor tag), and one centerline mask. Every
  * value is a pure function of (shape, seed), so the expected results can
  * be recomputed from the generator's own arrays. */
final class Corpus(val shape: Shape, val seed: Long) {
  import Corpus._

  private val rng = new java.util.SplittableRandom(seed)

  private val dealt = new scala.util.Random(rng.nextLong()).shuffle(shape.weeks)

  /** `n(week)` distinct days of each week, weeks 1.. of WeekBins.Ref2023. */
  private def days(n: ((Int, Int)) => Int): Vector[LocalDate] = {
    val (first, _) = WeekBins.Ref2023
    val pick = new scala.util.Random(rng.nextLong())
    dealt.zipWithIndex.toVector.flatMap { case (w, k) =>
      pick.shuffle((0 until 7).toVector).take(n(w)).sorted
        .map(d => first.plusDays(7L * (k + 1) + d))
    }
  }

  private def clock(): String = f"${3 + rng.nextInt(3)}%02d${rng.nextInt(60)}%02d${rng.nextInt(60)}%02d"

  val s2: Vector[Scene] = days(_._1).zipWithIndex.map { case (d, i) =>
    val t = s"${d.toString.replace("-", "")}T${clock()}"
    Scene(s"${t}_${t}_T46RCT", d, i)
  }

  val hls: Vector[Scene] = days(_._2).zipWithIndex.map { case (d, i) =>
    Scene(f"HLS.L30.T46RCT.${d.getYear}%04d${d.getDayOfYear}%03dT${clock()}.v2.0", d, i)
  }

  private val maskSeed = rng.nextLong()

  /** HR centerline mask: 1.0 on a one-pixel sinuous river across the
    * scene, 0.0 elsewhere. */
  lazy val mask: Array[Float] = {
    val n = shape.hr
    val out = new Array[Float](n * n)
    val r = new java.util.SplittableRandom(maskSeed)
    val phase = r.nextDouble() * 2 * math.Pi
    val period = n * (0.5 + r.nextDouble())
    (0 until n).foreach { c =>
      val row = (n / 2 + n / 10 * math.sin(2 * math.Pi * c / period + phase)).toInt
      out(row * n + c) = 1.0f
    }
    out
  }

  /** Band-major pixels (4 × edge × edge) of one scene. */
  def pixels(sensor: Int, scene: Int): Array[Float] = {
    val edge = if (sensor == S2) shape.hr else shape.lr
    val valid = math.max(1, (edge * shape.validFrac).toInt)
    val fill = if (sensor == S2) 0.0f else -9999.0f
    val out = new Array[Float](NBands * edge * edge)
    (0 until NBands).foreach { b =>
      val r = new java.util.SplittableRandom(seed * 1000003L + sensor * 7919L + scene * 31L + b)
      val base = 300 + 200 * b
      var i = b * edge * edge
      var row = 0
      while (row < edge) {
        var c = 0
        while (c < edge) {
          out(i) = if (c < valid) (base + (row + c) % 97 * 3 + r.nextInt(32)).toFloat else fill
          i += 1; c += 1
        }
        row += 1
      }
    }
    out
  }

  /** Writes listings, band files and the mask under `root`. */
  def write(spark: SparkSession, root: Path): Unit = {
    deleteTree(root)
    Files.createDirectories(root)
    val order = new scala.util.Random(seed)
    Files.write(root.resolve("s2.txt"), order.shuffle(s2.map(_.name)).mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(root.resolve("hls.txt"), order.shuffle(hls.map(_.name)).mkString("", "\n", "\n").getBytes(UTF_8))
    def bandFiles(sensor: Int, scenes: Vector[Scene], dir: Path, leaf: (String, String) => String): Unit = {
      Files.createDirectories(dir)
      val edge = if (sensor == S2) shape.hr else shape.lr
      val bands = if (sensor == S2) Bands.SentinelBands else Bands.LandsatBands
      java.util.stream.IntStream.range(0, scenes.length).parallel().forEach { i =>
        val px = pixels(sensor, i)
        bands.zipWithIndex.foreach { case (band, b) =>
          val plane = java.util.Arrays.copyOfRange(px, b * edge * edge, (b + 1) * edge * edge)
          Files.write(dir.resolve(leaf(scenes(i).name, band)),
            deflateTiledInt16(edge, edge, plane, shape.tiffTile))
        }
      }
    }
    bandFiles(S2, s2, root.resolve("raster/S2"), (n, b) => s"${n}_$b.tif")
    bandFiles(HLS, hls, root.resolve("raster/HLS"), (n, b) => s"$n.$b.tif")
    import spark.implicits._
    Seq(CenterlineMask(MaskId, shape.hr, shape.hr, mask)).toDS()
      .write.mode("overwrite").parquet(root.resolve("masks").toString)
  }
}

object Corpus {
  val S2 = 0
  val HLS = 1
  val NBands = 4
  val MaskId = "river"

  /** The paper's pairing cardinality: one MGRS tile over the reference
    * year, 110 S2 and 85 HLS acquisitions in 52 weeks, 182 same-class
    * pairs, batch 96, scale 3. Scenes are 144² HR / 48² LR, and the swath
    * covers 68% of the columns, so exactly one candidate per pair passes
    * the quality filter whatever the seed. */
  val ReferenceYear: Shape = Shape(
    weeks = Seq.fill(6)((3, 2)) ++ Seq.fill(27)((2, 2)) ++ Seq.fill(19)((2, 1)),
    hr = 144, scale = 3, batch = 96, tiffTile = 64, validFrac = 0.68)

  /** Classic little-endian TIFF, int16 samples, Deflate (zlib) tiles, no
    * Predictor — the HLS COG block layout the decoder reads. */
  def deflateTiledInt16(h: Int, w: Int, px: Array[Float], tile: Int): Array[Byte] = {
    val across = (w + tile - 1) / tile
    val down = (h + tile - 1) / tile
    val blocks = (0 until across * down).map { t =>
      val raw = ByteBuffer.allocate(tile * tile * 2).order(ByteOrder.LITTLE_ENDIAN)
      val r0 = (t / across) * tile; val c0 = (t % across) * tile
      for (r <- 0 until tile; c <- 0 until tile) {
        val v = if (r0 + r < h && c0 + c < w) px((r0 + r) * w + c0 + c) else 0.0f
        raw.putShort(v.toInt.toShort)
      }
      val d = new java.util.zip.Deflater()
      try {
        d.setInput(raw.array()); d.finish()
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](1 << 16)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        out.toByteArray
      } finally d.end()
    }
    val n = blocks.length
    val nEntries = 11
    val arraysOff = 8 + 2 + nEntries * 12 + 4
    val arrayBytes = if (n > 1) 8 * n else 0
    val dataOff = arraysOff + arrayBytes
    val bb = ByteBuffer.allocate(dataOff + blocks.map(_.length).sum).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    bb.putShort(nEntries.toShort)
    def short(tag: Int, v: Int): Unit = bb.putShort(tag.toShort).putShort(3).putInt(1).putShort(v.toShort).putShort(0)
    def long(tag: Int, v: Int): Unit = bb.putShort(tag.toShort).putShort(4).putInt(1).putInt(v)
    def longs(tag: Int, off: Int, inline: Int): Unit = {
      bb.putShort(tag.toShort).putShort(4).putInt(n)
      bb.putInt(if (n > 1) off else inline)
    }
    val offsets = blocks.scanLeft(dataOff)(_ + _.length).take(n)
    long(256, w); long(257, h)
    short(258, 16); short(259, 8); short(262, 1); short(277, 1)
    long(322, tile); long(323, tile)
    longs(324, arraysOff, offsets.head)
    longs(325, arraysOff + 4 * n, blocks.head.length)
    short(339, 2)
    bb.putInt(0)
    if (n > 1) { offsets.foreach(bb.putInt); blocks.foreach(b => bb.putInt(b.length)) }
    blocks.foreach(b => bb.put(b))
    bb.array()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toVector.reverse.foreach(f => Files.delete(f))
      } finally walk.close()
    }
}
