package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.raster.{TiffDecoder, TiffEncoder}

/** Raster-codec queries: the O2 decode path (ref fct_data_extraction.py:22–26,
  * `rasterio.open(...).read(1)`) behind a DRIVER-visible oracle row.
  *
  * q167 decodes every committed TIFF fixture (src/main/resources/tiff —
  * classpath-shipped, so the row runs from any working directory and every
  * executor of a real cluster) and reduces each to (ok, h, w, n_px, sum_q,
  * px_md5) where q = round(pixel·4) — exact for the fixture families: the
  * int gradients are whole numbers and the f32 fixtures are quarters. The
  * oracle is the committed output of scripts/make_tiff_oracle.py, which
  * derives the SAME constants independently from the fixture generators'
  * pixel formulas (and, for the lossy JPEG family, from the committed
  * expected_jpeg_*.bin decoder-model outputs that TiffDecoderSpec
  * cross-validates against javax.imageio). Any drift in strip/tile
  * placement, byte order, LZW/Deflate/PackBits/JPEG decode, or hostile-
  * stream rejection reddens the row.
  */
object RasterQueries extends graft.QueryModule {

  /** Fixtures the decoder must read, with exact expected pixels. */
  val DecodableFixtures: Seq[String] = Seq(
    "scene_B02.le8.tif", "scene_B03.be16.tif", "scene_B04.f32.tif",
    "scene_B05.strips.tif", "scene_B07.ignored.tif", "scene_geo.f32.tif",
    "deflate_one.tif", "deflate_strips.tif", "deflate_be_f32.tif",
    "lzw_one.tif", "lzw_strips.tif", "lzw_be_f32.tif", "lzw_wide.tif",
    "tiled_plain.tif", "tiled_deflate_16.tif", "tiled_lzw_f32.tif",
    "tiled_lzw_wide.tif",
    "packbits_one.tif", "packbits_strips.tif", "packbits_be16.tif",
    "packbits_f32.tif", "packbits_tiled.tif",
    // multi-strip with NO RowsPerStrip tag (legal: the tag defaults to
    // all-rows): per-strip decoded size is unknowable, so the per-block
    // truncation check must defer to the aggregate coverage check
    // (advisor r11 #1)
    "packbits_strips_norps.tif",
    "jpeg_single.tif", "jpeg_flat.tif", "jpeg_strips.tif",
    "jpeg_shared_tables.tif", "jpeg_restart.tif", "jpeg_tiled.tif",
    // color (YCbCr) JPEG: decoded grid = R plane (band 1, read(1) parity)
    "jpeg_color444.tif", "jpeg_color422.tif", "jpeg_color420.tif",
    "jpeg_color420_rst.tif", "jpeg_color_tiled.tif")

  /** Hostile fixtures the decoder must REJECT (poison-safe Left, never an
    * exception and never shifted pixel placement). */
  val RejectedFixtures: Seq[String] = Seq(
    "deflate_overlong.tif", "lzw_overlong.tif", "lzw_corrupt.tif",
    "jpeg_unsupported.tif", "jpeg_truncated.tif",
    "packbits_overlong.tif", "packbits_truncated.tif")

  private def loadFixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/tiff/$name")
    require(in != null, s"fixture /tiff/$name not on classpath")
    try in.readAllBytes() finally in.close()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O2 — decode sweep over the committed fixture corpus, executor-side
    // (files spread across partitions like a real raster-directory scan;
    // the fixture list is the only driver-side state)
    "q167_tiff_decode" -> ((s, _) => {
      import s.implicits._
      s.createDataset(DecodableFixtures ++ RejectedFixtures)
        .repartition(8)
        .map { name =>
          TiffDecoder.decode(loadFixture(name)) match {
            case Right(t) =>
              val q = t.pixels.map(p => Math.round(p * 4).toLong)
              val md = java.security.MessageDigest.getInstance("MD5")
              md.update(q.mkString(",").getBytes("UTF-8"))
              (name, 1L, Some(t.h.toLong), Some(t.w.toLong),
                Some(q.length.toLong), Some(q.sum),
                Some(md.digest().map("%02x".format(_)).mkString))
            case Left(_) =>
              (name, 0L, None: Option[Long], None: Option[Long],
                None: Option[Long], None: Option[Long], None: Option[String])
          }
        }
        .toDF("file", "ok", "h", "w", "n_px", "sum_q", "px_md5")
        .orderBy("file")
    }),

    // BIGTIFF ENVELOPE (round 11): magic-43 containers — 8-byte offsets,
    // 20-byte IFD entries, LONG8 strip offset/count — are what GDAL emits
    // under BIGTIFF=YES, including files well under 4 GiB, so the O2 scan
    // path reads both containers. Executor-side sweep over 8 synthetic
    // grids (NaN and negative payloads included): classic and BigTIFF
    // encodings of the same grid must decode bit-identically, and the
    // truncated / bad-offset-size hostile variants must reject with a
    // Left, never an exception or shifted placement.
    "q189_bigtiff" -> ((s, _) => {
      import s.implicits._
      s.createDataset(1 to 8).repartition(4)
        .map { i =>
          val h = 3 + i
          val w = 5 + (i % 3)
          val px = Array.tabulate(h * w)(j => ((j * 31 + i * 7) % 97) - 13.5f)
          if (i == 1) px(0) = Float.NaN
          val cls = TiffEncoder.encode(h, w, px)
          val big = TiffEncoder.encodeBig(h, w, px)
          def bits(b: Array[Byte]): Option[Seq[Int]] =
            TiffDecoder.decode(b).toOption
              .map(_.pixels.map(java.lang.Float.floatToRawIntBits).toSeq)
          val identical = (bits(cls), bits(big)) match {
            case (Some(a), Some(b)) => a == b && a.length == h * w
            case _ => false
          }
          val headerBig = big(2) == 43.toByte && cls(2) == 42.toByte
          val badHdr = big.clone(); badHdr(4) = 4.toByte
          val hostileRejected =
            TiffDecoder.decode(big.take(40)).isLeft &&
            TiffDecoder.decode(big.dropRight(8)).isLeft &&
            TiffDecoder.decode(badHdr).isLeft
          (1L, identical, headerBig, hostileRejected)
        }
        .toDF("one", "identical", "header_big", "hostile_rejected")
        .selectExpr("sum(one) AS n_grids",
          "bool_and(identical) AS pixels_identical",
          "bool_and(header_big) AS containers_differ",
          "bool_and(hostile_rejected) AS hostiles_rejected")
    }))

  /** Committed output of scripts/make_tiff_oracle.py (see scaladoc above). */
  val oracle: Map[String, String] = Map(
    // guarantee row: every boolean must hold for all 8 grids
    "q189_bigtiff" ->
      """SELECT CAST(8 AS BIGINT) AS n_grids, true AS pixels_identical,
        |  true AS containers_differ, true AS hostiles_rejected""".stripMargin,

    "q167_tiff_decode" ->
      """SELECT 'deflate_be_f32.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(705 AS BIGINT) AS sum_q, 'dfd0ee29ab1693a0bb16bfabe87d18c1' AS px_md5
        |UNION ALL
        |SELECT 'deflate_one.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(282000 AS BIGINT) AS sum_q, 'c522994f874148fa02a3db8b4d0db48d' AS px_md5
        |UNION ALL
        |SELECT 'deflate_overlong.tif' AS file, CAST(0 AS BIGINT) AS ok, CAST(NULL AS BIGINT) AS h, CAST(NULL AS BIGINT) AS w, CAST(NULL AS BIGINT) AS n_px, CAST(NULL AS BIGINT) AS sum_q, NULL AS px_md5
        |UNION ALL
        |SELECT 'deflate_strips.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(2820 AS BIGINT) AS sum_q, '3a085d24105e75d4726d5af2be193929' AS px_md5
        |UNION ALL
        |SELECT 'jpeg_color420.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(18 AS BIGINT) AS h, CAST(21 AS BIGINT) AS w, CAST(378 AS BIGINT) AS n_px, CAST(201036 AS BIGINT) AS sum_q, '952c4ad0d42f2132ef65c173efc496a3' AS px_md5
        |UNION ALL
        |SELECT 'jpeg_color420_rst.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(18 AS BIGINT) AS h, CAST(21 AS BIGINT) AS w, CAST(378 AS BIGINT) AS n_px, CAST(201036 AS BIGINT) AS sum_q, '952c4ad0d42f2132ef65c173efc496a3' AS px_md5
        |UNION ALL
        |SELECT 'jpeg_color422.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(18 AS BIGINT) AS h, CAST(21 AS BIGINT) AS w, CAST(378 AS BIGINT) AS n_px, CAST(198744 AS BIGINT) AS sum_q, '8eb75640115ef000269ab4104dddc223' AS px_md5
        |UNION ALL
        |SELECT 'jpeg_color444.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(18 AS BIGINT) AS h, CAST(21 AS BIGINT) AS w, CAST(378 AS BIGINT) AS n_px, CAST(199800 AS BIGINT) AS sum_q, 'b72c8f3c9add60991e5a64631b7db7ce' AS px_md5
        |UNION ALL
        |SELECT 'jpeg_color_tiled.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(18 AS BIGINT) AS h, CAST(21 AS BIGINT) AS w, CAST(378 AS BIGINT) AS n_px, CAST(200564 AS BIGINT) AS sum_q, '554131bfff215828c52c656c78847910' AS px_md5
        |UNION ALL
        |SELECT 'jpeg_flat.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(18 AS BIGINT) AS h, CAST(21 AS BIGINT) AS w, CAST(378 AS BIGINT) AS n_px, CAST(196156 AS BIGINT) AS sum_q, '2f42b1e03db9db7c60ea598c23e179ce' AS px_md5
        |UNION ALL
        |SELECT 'jpeg_restart.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(18 AS BIGINT) AS h, CAST(21 AS BIGINT) AS w, CAST(378 AS BIGINT) AS n_px, CAST(197244 AS BIGINT) AS sum_q, '228420ba8c45ffe377d6c13639d465b8' AS px_md5
        |UNION ALL
        |SELECT 'jpeg_shared_tables.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(18 AS BIGINT) AS h, CAST(21 AS BIGINT) AS w, CAST(378 AS BIGINT) AS n_px, CAST(197244 AS BIGINT) AS sum_q, '228420ba8c45ffe377d6c13639d465b8' AS px_md5
        |UNION ALL
        |SELECT 'jpeg_single.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(18 AS BIGINT) AS h, CAST(21 AS BIGINT) AS w, CAST(378 AS BIGINT) AS n_px, CAST(197244 AS BIGINT) AS sum_q, '228420ba8c45ffe377d6c13639d465b8' AS px_md5
        |UNION ALL
        |SELECT 'jpeg_strips.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(18 AS BIGINT) AS h, CAST(21 AS BIGINT) AS w, CAST(378 AS BIGINT) AS n_px, CAST(197244 AS BIGINT) AS sum_q, '228420ba8c45ffe377d6c13639d465b8' AS px_md5
        |UNION ALL
        |SELECT 'jpeg_tiled.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(18 AS BIGINT) AS h, CAST(21 AS BIGINT) AS w, CAST(378 AS BIGINT) AS n_px, CAST(197244 AS BIGINT) AS sum_q, '228420ba8c45ffe377d6c13639d465b8' AS px_md5
        |UNION ALL
        |SELECT 'jpeg_truncated.tif' AS file, CAST(0 AS BIGINT) AS ok, CAST(NULL AS BIGINT) AS h, CAST(NULL AS BIGINT) AS w, CAST(NULL AS BIGINT) AS n_px, CAST(NULL AS BIGINT) AS sum_q, NULL AS px_md5
        |UNION ALL
        |SELECT 'jpeg_unsupported.tif' AS file, CAST(0 AS BIGINT) AS ok, CAST(NULL AS BIGINT) AS h, CAST(NULL AS BIGINT) AS w, CAST(NULL AS BIGINT) AS n_px, CAST(NULL AS BIGINT) AS sum_q, NULL AS px_md5
        |UNION ALL
        |SELECT 'lzw_be_f32.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(705 AS BIGINT) AS sum_q, 'dfd0ee29ab1693a0bb16bfabe87d18c1' AS px_md5
        |UNION ALL
        |SELECT 'lzw_corrupt.tif' AS file, CAST(0 AS BIGINT) AS ok, CAST(NULL AS BIGINT) AS h, CAST(NULL AS BIGINT) AS w, CAST(NULL AS BIGINT) AS n_px, CAST(NULL AS BIGINT) AS sum_q, NULL AS px_md5
        |UNION ALL
        |SELECT 'lzw_one.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(282000 AS BIGINT) AS sum_q, 'c522994f874148fa02a3db8b4d0db48d' AS px_md5
        |UNION ALL
        |SELECT 'lzw_overlong.tif' AS file, CAST(0 AS BIGINT) AS ok, CAST(NULL AS BIGINT) AS h, CAST(NULL AS BIGINT) AS w, CAST(NULL AS BIGINT) AS n_px, CAST(NULL AS BIGINT) AS sum_q, NULL AS px_md5
        |UNION ALL
        |SELECT 'lzw_strips.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(2820 AS BIGINT) AS sum_q, '3a085d24105e75d4726d5af2be193929' AS px_md5
        |UNION ALL
        |SELECT 'lzw_wide.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(48 AS BIGINT) AS h, CAST(48 AS BIGINT) AS w, CAST(2304 AS BIGINT) AS n_px, CAST(1149240 AS BIGINT) AS sum_q, '4040f44a8737201e38b6557de9c55c15' AS px_md5
        |UNION ALL
        |SELECT 'packbits_be16.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(199200 AS BIGINT) AS sum_q, '11663597a46ecad0012418b9a3f01c57' AS px_md5
        |UNION ALL
        |SELECT 'packbits_f32.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(498 AS BIGINT) AS sum_q, 'b8a8105be885eeb682ade5665c7429fd' AS px_md5
        |UNION ALL
        |SELECT 'packbits_one.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(1992 AS BIGINT) AS sum_q, '86791daa709a597c26c8089e0192ad41' AS px_md5
        |UNION ALL
        |SELECT 'packbits_overlong.tif' AS file, CAST(0 AS BIGINT) AS ok, CAST(NULL AS BIGINT) AS h, CAST(NULL AS BIGINT) AS w, CAST(NULL AS BIGINT) AS n_px, CAST(NULL AS BIGINT) AS sum_q, NULL AS px_md5
        |UNION ALL
        |SELECT 'packbits_strips.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(1992 AS BIGINT) AS sum_q, '86791daa709a597c26c8089e0192ad41' AS px_md5
        |UNION ALL
        |SELECT 'packbits_strips_norps.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(1992 AS BIGINT) AS sum_q, '86791daa709a597c26c8089e0192ad41' AS px_md5
        |UNION ALL
        |SELECT 'packbits_tiled.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(1992 AS BIGINT) AS sum_q, '86791daa709a597c26c8089e0192ad41' AS px_md5
        |UNION ALL
        |SELECT 'packbits_truncated.tif' AS file, CAST(0 AS BIGINT) AS ok, CAST(NULL AS BIGINT) AS h, CAST(NULL AS BIGINT) AS w, CAST(NULL AS BIGINT) AS n_px, CAST(NULL AS BIGINT) AS sum_q, NULL AS px_md5
        |UNION ALL
        |SELECT 'scene_B02.le8.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(2820 AS BIGINT) AS sum_q, '3a085d24105e75d4726d5af2be193929' AS px_md5
        |UNION ALL
        |SELECT 'scene_B03.be16.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(282000 AS BIGINT) AS sum_q, 'c522994f874148fa02a3db8b4d0db48d' AS px_md5
        |UNION ALL
        |SELECT 'scene_B04.f32.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(705 AS BIGINT) AS sum_q, 'dfd0ee29ab1693a0bb16bfabe87d18c1' AS px_md5
        |UNION ALL
        |SELECT 'scene_B05.strips.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(2820 AS BIGINT) AS sum_q, '3a085d24105e75d4726d5af2be193929' AS px_md5
        |UNION ALL
        |SELECT 'scene_B07.ignored.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(2820 AS BIGINT) AS sum_q, '3a085d24105e75d4726d5af2be193929' AS px_md5
        |UNION ALL
        |SELECT 'scene_geo.f32.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(705 AS BIGINT) AS sum_q, 'dfd0ee29ab1693a0bb16bfabe87d18c1' AS px_md5
        |UNION ALL
        |SELECT 'tiled_deflate_16.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(282000 AS BIGINT) AS sum_q, 'c522994f874148fa02a3db8b4d0db48d' AS px_md5
        |UNION ALL
        |SELECT 'tiled_lzw_f32.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(705 AS BIGINT) AS sum_q, 'dfd0ee29ab1693a0bb16bfabe87d18c1' AS px_md5
        |UNION ALL
        |SELECT 'tiled_lzw_wide.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(48 AS BIGINT) AS h, CAST(48 AS BIGINT) AS w, CAST(2304 AS BIGINT) AS n_px, CAST(1149240 AS BIGINT) AS sum_q, '4040f44a8737201e38b6557de9c55c15' AS px_md5
        |UNION ALL
        |SELECT 'tiled_plain.tif' AS file, CAST(1 AS BIGINT) AS ok, CAST(6 AS BIGINT) AS h, CAST(5 AS BIGINT) AS w, CAST(30 AS BIGINT) AS n_px, CAST(2820 AS BIGINT) AS sum_q, '3a085d24105e75d4726d5af2be193929' AS px_md5
        |ORDER BY file""".stripMargin)
}
