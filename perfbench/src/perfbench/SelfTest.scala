package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.raster.TiffDecoder

/** The benchmark's own checks, runnable without Spark:
  * `python3 perfbench/run.py --self-test`. Exits non-zero on any failure. */
object SelfTest {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private val Tiny = Shape(weeks = Seq((3, 1), (1, 2), (2, 2), (1, 1)), hr = 96, scale = 3,
    batch = 24, tiffTile = 32, validFrac = 0.9)

  def main(args: Array[String]): Unit = {
    val bench = Paths.get(args.headOption.getOrElse("perfbench"))

    // same seed, same corpus and expectations; another seed, another corpus
    for (shape <- Seq(Tiny, Corpus.ReferenceYear)) {
      val a = new Corpus(shape, 7L); val b = new Corpus(shape, 7L); val c = new Corpus(shape, 8L)
      check(s"names repeat under one seed, not under another (${a.s2.size} S2, ${a.hls.size} HLS)",
        a.s2 == b.s2 && a.hls == b.hls && a.s2 != c.s2 && a.hls != c.hls)
      check("mask and pixels repeat under one seed",
        a.mask.sameElements(b.mask) && a.pixels(Corpus.S2, 3).sameElements(b.pixels(Corpus.S2, 3)) &&
          a.pixels(Corpus.HLS, 2).sameElements(b.pixels(Corpus.HLS, 2)))
      val pa = Expect.pairs(a); val pb = Expect.pairs(b)
      check(s"expected pairs repeat (${pa.size}), and their count is the same for every seed",
        pa == pb && pa.size == shape.weeks.map { case (s, l) => s * l }.sum && Expect.pairs(c).size == pa.size)
      check("expected tile summary repeats", Expect.tiles(a, pa, 2) == Expect.tiles(b, pb, 3))
    }

    // grammars the ingest regex, the band token match and the parsers accept
    val corpus = new Corpus(Tiny, 11L)
    check("S2 names follow yyyyMMddTHHmmss_yyyyMMddTHHmmss_T46RCT",
      corpus.s2.forall(_.name.matches("""\d{8}T\d{6}_\d{8}T\d{6}_T46RCT""")))
    check("HLS names follow HLS.L30.T46RCT.yyyyDDDTHHmmss.v2.0",
      corpus.hls.forall(_.name.matches("""HLS\.L30\.T46RCT\.\d{7}T\d{6}\.v2\.0""")))
    val id = Pipeline.IdRegex.r
    check("the default image-id pattern recovers each name from its band file",
      corpus.s2.forall(s => (s"${s.name}_B8.tif" match { case id(n) => n; case _ => "" }) == s.name) &&
        corpus.hls.forall(s => (s"${s.name}.B05.tif" match { case id(n) => n; case _ => "" }) == s.name))

    // the TIFF writer round-trips through the library decoder, edge tiles too
    val edge = Tiny.hr
    val plane = corpus.pixels(Corpus.S2, 0).take(edge * edge)
    val back = TiffDecoder.decode(Corpus.deflateTiledInt16(edge, edge, plane, 40))
    check("Deflate-tiled int16 band file decodes to the generator's pixels",
      back.exists(t => t.h == edge && t.w == edge && t.pixels.sameElements(plane)))
    val lrPlane = corpus.pixels(Corpus.HLS, 0).take(Tiny.lr * Tiny.lr)
    check("fill values (-9999) survive the int16 round trip",
      lrPlane.contains(-9999.0f) && TiffDecoder.decode(Corpus.deflateTiledInt16(Tiny.lr, Tiny.lr, lrPlane, 32))
        .exists(_.pixels.sameElements(lrPlane)))

    // order statistics
    check("median of an odd sample", Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    check("median of an even sample", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("quantile interpolates between ranks", Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.75) == 4.0 &&
      math.abs(Stats.quantile((1 to 10).map(_.toDouble), 0.75) - 7.75) < 1e-12)
    check("quantile ends are the extremes",
      Stats.quantile(Seq(3.0, 9.0, 1.0), 0.0) == 1.0 && Stats.quantile(Seq(3.0, 9.0, 1.0), 1.0) == 9.0)

    // metric names: well-formed, unique, and the ones BENCHMARK.json lists
    val names = (Main.EndToEnd ++ Main.PerLayer).map(_._1)
    check("metric names match [A-Za-z0-9_.-]+ and start alphanumeric",
      names.forall(_.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")))
    check("metric names are unique", names.distinct.size == names.size)
    val spec = new String(Files.readAllBytes(bench.resolveSibling("BENCHMARK.json")), UTF_8)
    val listed = """"name"\s*:\s*"([^"]+)"""".r.findAllMatchIn(spec).map(_.group(1)).toSet
    check("BENCHMARK.json lists exactly the workloads and metrics the benchmark prints",
      listed == (names ++ Main.Workloads).toSet)

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failure(s)")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
