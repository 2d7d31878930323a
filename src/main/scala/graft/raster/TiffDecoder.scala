package graft.raster

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Minimal pure-JVM GeoTIFF decoder for the band files the reference reads
  * with rasterio (`raster.read(1)` — O2, fct_data_extraction.py:22–26):
  * baseline TIFF, uncompressed (Compression=1), Deflate-compressed
  * (Compression=8 "Adobe deflate" / 32946 legacy deflate, zlib per strip),
  * LZW-compressed (Compression=5, TIFF 6.0 MSB-first variable-width
  * codes with the historical early-change convention), PackBits RLE
  * (Compression=32773) or JPEG-compressed
  * (Compression=7 "new-style": every strip/tile a complete baseline
  * grayscale stream, shared tables via tag 347 — [[JpegDecoder]]),
  * organized as STRIPS or TILES (tags 322–325 — the Cloud-Optimized
  * GeoTIFF layout; edge-tile padding decoded and discarded), single sample
  * per pixel — plus YCbCr JPEG (SamplesPerPixel=3, Photometric=6), whose
  * pixel grid is the R plane: band 1, the slice `rasterio.read(1)` hands
  * the reference on a color JPEG TIFF — 8/16/32-bit unsigned/signed
  * integer or 32-bit float (JPEG: 8-bit), either byte order. Geo* tags
  * (ModelPixelScale/Tiepoint/Transformation + the GeoKey directory) are
  * carried VERBATIM as [[GeoMeta]] so decode→encode reproduces the
  * source's CRS/transform — the reference's `raster.meta` copy contract
  * (see [[GeoMeta]]); the pixel-grid consumers simply ignore them.
  *
  * Anything outside that envelope (JPEG, multi-band, a Predictor (tag 317)
  * other than 1) returns
  * Left(reason) — callers drop or route the file, a poison blob must never
  * kill a sweep. Decompression is bounded by the declared block size, so a
  * zip/lzw-bomb strip or tile can never allocate past the MaxPixels sanity
  * cap nor shift other blocks' pixel placement.
  */
object TiffDecoder {

  final case class Tiff(h: Int, w: Int, pixels: Array[Float])

  /** Total decode entry — any internal exception from corrupt structure
    * (overflowed counts, hostile offsets) is converted to Left. */
  def decode(bytes: Array[Byte]): Either[String, Tiff] =
    decodeWithMeta(bytes).map(_._1)

  /** [[decode]] plus the georeferencing tags as a verbatim [[GeoMeta]] —
    * the read half of the reference's `raster.meta` copy (see [[GeoMeta]];
    * [[TiffEncoder.encode]] is the write half). */
  def decodeWithMeta(bytes: Array[Byte]): Either[String, (Tiff, GeoMeta)] =
    try decodeUnsafe(bytes)
    catch { case e: Exception => Left(s"corrupt TIFF: ${e.getClass.getSimpleName}") }

  private val MaxPixels = 1 << 28 // 256M px ≈ 1 GiB of floats — sanity bound

  /** JPEG-2000 magic: JP2 container signature box / raw codestream SOC.
    * Real Sentinel-2 SAFE archives ship `.jp2` band files (the reference
    * reads them through rasterio/GDAL, fct_data_extraction.py:22–26 after
    * the gdalwarp preprocess at :196); a pure-JVM JP2 decoder is out of
    * scope, so name the supported route loudly instead of "not a TIFF". */
  private def isJp2(b: Array[Byte]): Boolean =
    (b.length >= 12 && b(0) == 0 && b(1) == 0 && b(2) == 0 && b(3) == 0x0C &&
      b(4) == 0x6A && b(5) == 0x50 && b(6) == 0x20 && b(7) == 0x20) ||
    (b.length >= 4 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0x4F &&
      (b(2) & 0xFF) == 0xFF && (b(3) & 0xFF) == 0x51)

  private def decodeUnsafe(bytes: Array[Byte]): Either[String, (Tiff, GeoMeta)] = {
    if (bytes.length < 8) return Left("too short")
    if (isJp2(bytes))
      return Left("JPEG-2000 input: convert to GeoTIFF first via the " +
        "gdalwarp preprocess route (graft.raster.CropScript / O9) — " +
        "pure-JVM decode covers the TIFF family only")
    val order = (bytes(0), bytes(1)) match {
      case (0x49, 0x49) => ByteOrder.LITTLE_ENDIAN
      case (0x4D, 0x4D) => ByteOrder.BIG_ENDIAN
      case _ => return Left("not a TIFF (bad byte-order mark)")
    }
    val bb = ByteBuffer.wrap(bytes).order(order)
    // magic 42 = classic TIFF, 43 = BigTIFF (8-byte offsets, 20-byte IFD
    // entries, LONG8 types) — GDAL emits BigTIFF containers routinely
    // (BIGTIFF=YES / size safety), including files well under 4 GiB, so
    // the scan path must read both. In-memory decode bounds offsets to
    // the ≤ 2 GiB byte array either way (validated below).
    val magic = bb.getShort(2)
    val big = magic == 43
    if (magic != 42 && !big) return Left("not a TIFF (magic != 42/43)")
    val ifdOff: Int =
      if (big) {
        if (bb.getShort(4) != 8 || bb.getShort(6) != 0)
          return Left("bad BigTIFF header (offset size != 8)")
        val o = bb.getLong(8)
        if (o < 16 || o > bytes.length.toLong - 8) return Left("bad IFD offset")
        o.toInt
      } else {
        val o = bb.getInt(4)
        if (o < 8 || o + 2 > bytes.length) return Left("bad IFD offset")
        o
      }
    val entrySize = if (big) 20 else 12
    val entriesBase = ifdOff + (if (big) 8 else 2)
    val inlineMax = if (big) 8 else 4
    val valueSlot = if (big) 12 else 8 // entry-relative offset of value/offset

    val nEntries: Int =
      if (big) {
        val n = bb.getLong(ifdOff)
        if (n < 0 || n > 0xFFFF) return Left("bad BigTIFF IFD entry count")
        n.toInt
      } else bb.getShort(ifdOff) & 0xFFFF
    var width = -1; var height = -1
    var bits = 1; var compression = 1; var samples = 1; var sampleFormat = 1
    var photometric = 1; var predictor = 1
    var stripOffsets: Array[Long] = null
    var stripCounts: Array[Long] = null
    var rowsPerStrip = -1L
    var tileW = -1; var tileH = -1
    var tileOffsets: Array[Long] = null
    var tileCounts: Array[Long] = null
    var jpegTables: Array[Byte] = null
    var geoPixelScale = Array.emptyDoubleArray
    var geoTiepoints = Array.emptyDoubleArray
    var geoTransform = Array.emptyDoubleArray
    var geoKeys = Array.emptyIntArray
    var geoDoubles = Array.emptyDoubleArray
    var geoAscii = ""

    // ONE copy of the count/value-offset hostile-input discipline, shared
    // by the three entry readers (a bounds fix must not have to land in
    // three places): returns (cnt, valOff) or null on any hostile shape —
    // wrapped count, element total past the buffer, out-of-range offset.
    def entryLoc(entryOff: Int, elemSize: Int): Array[Int] = {
      val cntL =
        if (big) bb.getLong(entryOff + 4) else bb.getInt(entryOff + 4).toLong
      if (cntL <= 0 || cntL > Int.MaxValue) return null
      val cnt = cntL.toInt
      val total = elemSize.toLong * cnt // Long: a hostile cnt must not wrap
      if (total > bytes.length) return null
      val valOffL =
        if (total <= inlineMax) (entryOff + valueSlot).toLong
        else if (big) bb.getLong(entryOff + valueSlot)
        else bb.getInt(entryOff + valueSlot).toLong
      if (valOffL < 0 || valOffL + total > bytes.length) return null
      Array(cnt, valOffL.toInt)
    }

    def entryValues(entryOff: Int): Array[Long] = {
      val typ = bb.getShort(entryOff + 2) & 0xFFFF
      val sizeOf = typ match {
        case 1 | 2 | 6 | 7 => 1 // BYTE/ASCII/SBYTE/UNDEF
        case 3 | 8 => 2 // SHORT/SSHORT
        case 4 | 9 | 11 => 4 // LONG/SLONG/FLOAT
        case 16 | 17 if big => 8 // LONG8/SLONG8 (BigTIFF only)
        case _ => return Array.empty
      }
      val loc = entryLoc(entryOff, sizeOf)
      if (loc == null) return Array.empty
      val (cnt, valOff) = (loc(0), loc(1))
      Array.tabulate(cnt) { i =>
        sizeOf match {
          case 1 => (bytes(valOff + i) & 0xFF).toLong
          case 2 => (bb.getShort(valOff + i * 2) & 0xFFFF).toLong
          case 4 => bb.getInt(valOff + i * 4).toLong & 0xFFFFFFFFL
          case 8 => bb.getLong(valOff + i * 8) // Long-validated at use sites
        }
      }
    }

    // geo tags only: DOUBLE (type 12) arrays are out-of-line in classic
    // TIFF (8 > 4 inline bytes) but a SINGLE double fits a BigTIFF entry
    // inline; same hostile-offset discipline as entryValues
    def entryDoubles(entryOff: Int): Array[Double] = {
      val typ = bb.getShort(entryOff + 2) & 0xFFFF
      if (typ != 12) return Array.emptyDoubleArray
      val loc = entryLoc(entryOff, 8)
      if (loc == null) return Array.emptyDoubleArray
      Array.tabulate(loc(0))(i => bb.getDouble(loc(1) + i * 8))
    }

    def entryAscii(entryOff: Int): String = {
      val typ = bb.getShort(entryOff + 2) & 0xFFFF
      if (typ != 2) return ""
      val loc = entryLoc(entryOff, 1)
      if (loc == null) return ""
      val (cnt, valOff) = (loc(0), loc(1))
      new String(bytes, valOff, cnt, java.nio.charset.StandardCharsets.US_ASCII)
        .takeWhile(_ != '\u0000') // NUL-terminated; normalize it away
    }

    // scalar tags wrap to -1 (→ the existing <= 0 / unsupported gates)
    // when a hostile 64-bit value exceeds Int range — .toInt would WRAP
    // (0x1_0000_0005 → 5) and silently decode a wrong-shaped grid
    def safeInt(v: Long): Int = if (v < 0 || v > Int.MaxValue) -1 else v.toInt

    var e = 0
    while (e < nEntries) {
      val off = entriesBase + e * entrySize
      if (off + entrySize > bytes.length) return Left("truncated IFD")
      val tag = bb.getShort(off) & 0xFFFF
      lazy val vs = entryValues(off)
      tag match {
        case 256 => width = safeInt(vs.headOption.getOrElse(-1L))
        case 257 => height = safeInt(vs.headOption.getOrElse(-1L))
        case 258 => bits = safeInt(vs.headOption.getOrElse(1L))
        case 259 => compression = safeInt(vs.headOption.getOrElse(1L))
        case 262 => photometric = safeInt(vs.headOption.getOrElse(1L))
        case 273 => stripOffsets = vs
        case 277 => samples = safeInt(vs.headOption.getOrElse(1L))
        // 278 RowsPerStrip bounds each strip's decompressed size; pixel
        // placement is still sequential by decoded byte counts.
        case 278 => rowsPerStrip = vs.headOption.getOrElse(-1L)
        case 279 => stripCounts = vs
        // 317 Predictor: an unreadable value counts as unsupported, never as 1
        case 317 => predictor = safeInt(vs.headOption.getOrElse(-1L))
        case 322 => tileW = safeInt(vs.headOption.getOrElse(-1L))
        case 323 => tileH = safeInt(vs.headOption.getOrElse(-1L))
        case 324 => tileOffsets = vs
        case 325 => tileCounts = vs
        case 339 => sampleFormat = safeInt(vs.headOption.getOrElse(1L))
        case 347 => jpegTables = vs.map(_.toByte) // shared JPEG tables stream
        case 33550 => geoPixelScale = entryDoubles(off)
        case 33922 => geoTiepoints = entryDoubles(off)
        case 34264 => geoTransform = entryDoubles(off)
        case 34735 => geoKeys = vs.map(_.toInt)
        case 34736 => geoDoubles = entryDoubles(off)
        case 34737 => geoAscii = entryAscii(off)
        case _ => ()
      }
      e += 1
    }

    if (width <= 0 || height <= 0) return Left("missing dimensions")
    val deflated = compression == 8 || compression == 32946
    val lzw = compression == 5
    val jpeg = compression == 7 // new-style JPEG: each block a full stream
    val packbits = compression == 32773 // Macintosh PackBits RLE
    if (compression != 1 && !deflated && !lzw && !jpeg && !packbits)
      return Left(s"unsupported compression $compression")
    // horizontal differencing (2) or the floating-point predictor (3) would
    // need undoing after decompression; decoding without it is wrong pixels
    if (predictor != 1) return Left(s"unsupported predictor $predictor")
    // YCbCr JPEG (SamplesPerPixel=3, Photometric=6): the JPEG stream
    // carries the subsampling; the decoder returns the R plane as the
    // pixel grid — band 1, exactly what `rasterio.read(1)` hands the
    // reference on a color JPEG TIFF (fct_data_extraction.py:22–26)
    if (samples == 3 && !(jpeg && photometric == 6))
      return Left("3 samples/pixel supported only as YCbCr JPEG (Compression=7, Photometric=6)")
    if (samples != 1 && samples != 3)
      return Left(s"unsupported samples/pixel $samples")
    if (jpeg && bits != 8)
      return Left(s"JPEG compression requires 8 bits/sample, got $bits")
    val tiled = tileOffsets != null
    if (stripOffsets == null && !tiled) return Left("missing strip offsets")
    val compressed = deflated || lzw || jpeg || packbits
    if (compressed && !tiled && stripCounts == null)
      return Left("compressed strips need byte counts")
    if (compressed && tiled && tileCounts == null)
      return Left("compressed tiles need byte counts")
    if (tiled && (tileW <= 0 || tileH <= 0))
      return Left("tiled layout missing tile dimensions")
    if (!Set(8, 16, 32).contains(bits)) return Left(s"unsupported bits/sample $bits")
    if (bits == 32 && sampleFormat != 3 && sampleFormat != 1 && sampleFormat != 2)
      return Left(s"unsupported sample format $sampleFormat")
    if (width.toLong * height > MaxPixels)
      return Left(s"implausible dimensions ${width}x$height")
    if (tiled && tileW.toLong * tileH > MaxPixels)
      return Left(s"implausible tile dimensions ${tileW}x$tileH")

    val out = new Array[Float](width * height)
    val bytesPerPx = bits / 8

    def readSample(buf: Array[Byte], sb: ByteBuffer, off: Int): Float = bits match {
      case 8 =>
        if (sampleFormat == 2) buf(off).toFloat
        else (buf(off) & 0xFF).toFloat
      case 16 =>
        if (sampleFormat == 2) sb.getShort(off).toFloat
        else (sb.getShort(off) & 0xFFFF).toFloat
      case 32 =>
        if (sampleFormat == 3) sb.getFloat(off)
        else sb.getInt(off).toFloat
    }

    // (buf, bOff, bLen): a block's sample bytes — a window into the file
    // for uncompressed data, a freshly decoded buffer otherwise. The decode
    // target is capped at THIS block's expected size, so a hostile
    // over-long stream can't write into later blocks' pixel positions — it
    // is rejected instead of silently shifting placement.
    // shared JPEG tables (tag 347) parsed once; a bad tables stream fails
    // the whole file (every strip depends on it)
    lazy val sharedJpegTables: Either[String, JpegDecoder.Tables] =
      if (jpegTables == null) Right(JpegDecoder.emptyTables)
      else JpegDecoder.parseTables(jpegTables)

    def decompress(kind: String, sOff: Int, sLen: Int, cap: Int,
                   exactCap: Boolean = true
                  ): Either[String, (Array[Byte], Int, Int)] =
      if (sOff < 0 || sOff + sLen > bytes.length) Left(s"$kind out of range")
      else if (jpeg) sharedJpegTables.flatMap { shared =>
        JpegDecoder.decode(
            java.util.Arrays.copyOfRange(bytes, sOff, sOff + sLen), shared)
          .flatMap { case (jw, jh, px) =>
            // the stream's own dims must match this block's geometry or
            // pixel placement would shift (same rejection discipline as
            // the over-long deflate strip)
            val expectW = if (tiled) tileW else width
            if (jw != expectW)
              Left(s"jpeg $kind width $jw != expected $expectW")
            else if (tiled && jh != tileH)
              Left(s"jpeg tile height $jh != expected $tileH")
            else if (px.length > cap && !tiled)
              Left(s"jpeg $kind decodes past its declared size")
            else Right((px, 0, math.min(px.length, cap)))
          }
      }
      else if (!compressed) Right((bytes, sOff, sLen))
      else if (lzw) lzwDecode(bytes, sOff, sLen, cap, kind)
        .map { case (tmp, n) => (tmp, 0, n) }
      else if (packbits) packBitsDecode(bytes, sOff, sLen, cap, kind, exactCap)
        .map { case (tmp, n) => (tmp, 0, n) }
      else {
        val tmp = new Array[Byte](cap)
        val inf = new java.util.zip.Inflater()
        var n = 0
        try {
          inf.setInput(bytes, sOff, sLen)
          var stalled = false
          while (!inf.finished() && !stalled && n < cap) {
            val got = inf.inflate(tmp, n, cap - n)
            n += got
            // got == 0 while unfinished → truncated/corrupt stream or a
            // needed dictionary; bail (the coverage check reports it)
            stalled = got == 0
          }
          // Stream still has output past the block's declared size → the
          // block lies about its length; reject rather than misplace pixels.
          if (n == cap && !inf.finished() &&
              inf.inflate(new Array[Byte](1), 0, 1) > 0)
            return Left(s"deflate $kind inflates past its declared size")
        } catch {
          case _: java.util.zip.DataFormatException =>
            return Left(s"corrupt deflate $kind")
        } finally inf.end()
        Right((tmp, 0, n))
      }

    if (!tiled) {
      var px = 0
      var s = 0
      while (s < stripOffsets.length && px < out.length) {
        // Long-validate BEFORE .toInt: a hostile LONG8 offset/count (or a
        // classic LONG in [2^31, 2^32)) must reject, never wrap to a
        // small int that lands inside the buffer and misplaces pixels
        val sOffL = stripOffsets(s)
        if (sOffL < 0 || sOffL > bytes.length)
          return Left(s"strip offset $sOffL outside the buffer")
        val sOff = sOffL.toInt
        val sLenL =
          if (stripCounts != null && s < stripCounts.length) stripCounts(s)
          else math.min(bytes.length - sOff, (out.length - px).toLong * bytesPerPx)
        if (sLenL < 0 || sLenL > bytes.length)
          return Left(s"strip byte count $sLenL outside the buffer")
        val sLen = sLenL.toInt
        val remaining = (out.length - px).toLong * bytesPerPx
        val declared =
          if (rowsPerStrip > 0) rowsPerStrip * width * bytesPerPx else remaining
        val cap = math.min(remaining, declared).toInt
        // cap is exact when RowsPerStrip declares it, or on the last strip
        // (which must supply ALL remaining pixels); otherwise (multi-strip,
        // no RowsPerStrip) cap is just an upper bound — per-block
        // truncation checks defer to the aggregate coverage check.
        val exact = rowsPerStrip > 0 || s == stripOffsets.length - 1
        val (buf, bOff, bLen) = decompress("strip", sOff, sLen, cap, exact) match {
          case Left(err) => return Left(err)
          case Right(w) => w
        }
        val sb = if (buf eq bytes) bb else ByteBuffer.wrap(buf).order(order)
        var i = 0
        while (i + bytesPerPx <= bLen && px < out.length) {
          out(px) = readSample(buf, sb, bOff + i)
          px += 1
          i += bytesPerPx
        }
        s += 1
      }
      if (px != out.length)
        return Left(s"pixel data incomplete ($px of ${out.length})")
    } else {
      // tiled organization (the COG/cloud layout): tiles are row-major
      // tw×th blocks; edge tiles are stored FULL-SIZE with padding, which
      // is decoded then discarded — only in-bounds pixels place.
      val across = (width + tileW - 1) / tileW
      val down = (height + tileH - 1) / tileH
      if (tileOffsets.length < across.toLong * down)
        return Left(s"tiled layout needs ${across * down} tiles, has ${tileOffsets.length}")
      val tileBytes = tileW * tileH * bytesPerPx
      var written = 0L
      var t = 0
      while (t < across * down) {
        // same Long-before-toInt discipline as the strip path
        val tOffL = tileOffsets(t)
        if (tOffL < 0 || tOffL > bytes.length)
          return Left(s"tile offset $tOffL outside the buffer")
        val tOff = tOffL.toInt
        val tLenL =
          if (tileCounts != null && t < tileCounts.length) tileCounts(t)
          else math.min((bytes.length - tOff).toLong, tileBytes.toLong)
        if (tLenL < 0 || tLenL > bytes.length)
          return Left(s"tile byte count $tLenL outside the buffer")
        val tLen = tLenL.toInt
        val (buf, bOff, bLen) = decompress("tile", tOff, tLen, tileBytes) match {
          case Left(err) => return Left(err)
          case Right(w) => w
        }
        val sb = if (buf eq bytes) bb else ByteBuffer.wrap(buf).order(order)
        val row0 = (t / across) * tileH
        val col0 = (t % across) * tileW
        val rows = math.min(tileH, height - row0)
        val cols = math.min(tileW, width - col0)
        var r = 0
        while (r < rows) {
          var c = 0
          val rowBase = r * tileW
          while (c < cols) {
            val src = (rowBase + c) * bytesPerPx
            if (src + bytesPerPx <= bLen) {
              out((row0 + r) * width + (col0 + c)) = readSample(buf, sb, bOff + src)
              written += 1
            }
            c += 1
          }
          r += 1
        }
        t += 1
      }
      if (written != out.length)
        return Left(s"pixel data incomplete ($written of ${out.length})")
    }
    Right((Tiff(height, width, out),
      GeoMeta(geoPixelScale, geoTiepoints, geoTransform, geoKeys,
        geoDoubles, geoAscii)))
  }

  /** PackBits RLE block decode (Compression=32773, TIFF 6.0 §9): control
    * byte n as SIGNED — 0..127 copies the next n+1 literal bytes,
    * −1..−127 repeats the next byte 1−n times, −128 is a no-op. Output is
    * capped at the block's expected byte size with the same rejection
    * discipline as the deflate/LZW paths: an over-long or truncated stream
    * fails THIS block loudly instead of shifting later pixel placement.
    * The last common TIFF compression rasterio reads (ref
    * fct_data_extraction.py:23–24) that this decoder previously rejected. */
  private def packBitsDecode(src: Array[Byte], off: Int, len: Int, cap: Int,
                             kind: String, exactCap: Boolean
                            ): Either[String, (Array[Byte], Int)] = {
    val out = new Array[Byte](cap)
    var outN = 0
    var i = 0
    while (i < len && outN < cap) {
      val n = src(off + i).toInt // signed control byte
      i += 1
      if (n >= 0) { // literal run of n+1 bytes
        val run = n + 1
        if (i + run > len) return Left(s"truncated packbits $kind")
        if (outN + run > cap)
          return Left(s"packbits $kind decodes past its declared size")
        System.arraycopy(src, off + i, out, outN, run)
        outN += run; i += run
      } else if (n != -128) { // replicate next byte 1-n times
        if (i >= len) return Left(s"truncated packbits $kind")
        val run = 1 - n
        if (outN + run > cap)
          return Left(s"packbits $kind decodes past its declared size")
        java.util.Arrays.fill(out, outN, outN + run, src(off + i))
        outN += run; i += 1
      } // n == -128: no-op
    }
    // leftover INPUT with a full output buffer → the block lies about its
    // length (same policy as the over-long deflate stream); trailing no-op
    // controls are tolerated.
    var j = i
    while (j < len && src(off + j).toInt == -128) j += 1
    if (j < len && outN >= cap)
      return Left(s"packbits $kind decodes past its declared size")
    // input exhausted with the output still short of the block's declared
    // size → the stream is truncated; reject HERE (per the scaladoc's
    // per-block contract) rather than rely on the aggregate
    // "pixel data incomplete" check downstream (advisor r10). SKIPPED when
    // the caller couldn't compute an exact size (advisor r11 #1: a
    // multi-strip file that omits RowsPerStrip gets cap = ALL remaining
    // image bytes for every strip, so each strip but the last legitimately
    // decodes short of cap — those fall through to the aggregate check).
    if (exactCap && outN < cap) return Left(s"truncated packbits $kind")
    Right((out, outN))
  }

  /** TIFF 6.0 LZW strip decode (Compression=5): MSB-first bit packing,
    * 9→12-bit variable-width codes, ClearCode=256, EOI=257, and the
    * historical EARLY-CHANGE convention — both sides widen when the next
    * free code reaches 2^width − 1 (511/1023/2047), one code earlier than
    * plain LZW. Output is capped at the strip's expected byte size: a
    * hostile stream that keeps producing past the cap is rejected (same
    * policy as the deflate path), so strips can't shift pixel placement.
    */
  private def lzwDecode(src: Array[Byte], off: Int, len: Int, cap: Int,
                        kind: String): Either[String, (Array[Byte], Int)] = {
    val Clear = 256; val Eoi = 257
    val out = new Array[Byte](cap)
    var outN = 0
    var bitPos = 0L
    val totalBits = len.toLong * 8
    var width = 9
    // dictionary as (prefix code, appended byte); strings materialize by
    // walking the prefix chain into scratch (longest chain < 4096)
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val scratch = new Array[Byte](4096)
    var next = 258
    var prevCode = -1

    def readCode(): Int = {
      if (bitPos + width > totalBits) return -2 // out of input
      var v = 0
      var i = 0
      while (i < width) {
        val b = src(off + (bitPos >> 3).toInt)
        v = (v << 1) | ((b >> (7 - (bitPos & 7).toInt)) & 1)
        bitPos += 1
        i += 1
      }
      v
    }

    /** Write code's string into out; returns its first byte, or -1 if the
      * output would pass the cap (hostile/overlong), -2 on a bad chain. */
    def emit(code: Int): Int = {
      var c = code
      var n = 0
      while (c >= 258) {
        if (n >= scratch.length) return -2
        scratch(n) = suffix(c); n += 1; c = prefix(c)
      }
      if (c < 0 || c > 255) return -2
      scratch(n) = c.toByte; n += 1
      if (outN + n > cap) return -1
      var i = n - 1
      while (i >= 0) { out(outN) = scratch(i); outN += 1; i -= 1 }
      scratch(n - 1) & 0xFF
    }

    var done = false
    while (!done) {
      val code = readCode()
      if (code == -2 || code == Eoi) done = true // EOI, or writer omitted it
      else if (code == Clear) { next = 258; width = 9; prevCode = -1 }
      else if (prevCode == -1) {
        if (code > 255) return Left(s"corrupt lzw $kind")
        if (outN + 1 > cap) return Left(s"lzw $kind decodes past its declared size")
        out(outN) = code.toByte; outN += 1
        prevCode = code
      } else {
        if (code > next || next >= 4096) return Left(s"corrupt lzw $kind")
        val first =
          if (code == next) { // KwKwK: prev's string + its own first byte
            val f = emit(prevCode)
            if (f == -2) return Left(s"corrupt lzw $kind")
            if (f == -1 || outN + 1 > cap)
              return Left(s"lzw $kind decodes past its declared size")
            out(outN) = f.toByte; outN += 1
            f
          } else {
            val f = emit(code)
            if (f == -2) return Left(s"corrupt lzw $kind")
            if (f == -1) return Left(s"lzw $kind decodes past its declared size")
            f
          }
        prefix(next) = prevCode; suffix(next) = first.toByte; next += 1
        // early change + the decoder's one-code lag behind the writer's
        // dictionary: the writer widens when ITS next free code hits
        // 2^w − 1 (after the add that follows emitting code k); this
        // decoder performs add k only after reading code k+1, so it must
        // widen one entry earlier — at 2^w − 2 — for code k+1 to be read
        // at the writer's width (libtiff's maxcode = MAXCODE(n) − 1).
        if (next == (1 << width) - 2 && width < 12) width += 1
        prevCode = code
      }
    }
    Right((out, outN))
  }

  /** One decoded band file. `meta` carries the source's georeferencing
    * verbatim (defaulted empty so positional construction in pixel-only
    * contexts keeps working); [[TiffEncoder.writeTiffDir]] writes it back
    * out — the distributed form of the reference's meta-copy. */
  final case class BandFile(path: String, band: String, h: Int, w: Int,
                            pixels: Array[Float],
                            meta: GeoMeta = GeoMeta.empty)

  /** Directory of band TIFFs → D3 rows, decoded executor-side via the
    * binaryFile source (pathGlobFilter pushdown prunes the listing).
    * A file's band is the leftmost band token in its name, by the one
    * token rule of [[Bands.bandOf]] and [[Bands.imageId]]. Files with no
    * band token are not decoded; undecodable files are dropped. */
  def readTiffDir(spark: SparkSession, dir: String, bands: Seq[String],
                  glob: String = "*.tif"): Dataset[BandFile] = {
    import spark.implicits._
    val token = Bands.token(bands)
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        val band = java.util.regex.Pattern.compile(token)
        it.flatMap { case (path, content) =>
          val m = band.matcher(path.substring(path.lastIndexOf('/') + 1))
          if (!m.find()) None
          else TiffDecoder.decodeWithMeta(content).toOption.map { case (t, meta) =>
            BandFile(path, m.group(1), t.h, t.w, t.pixels, meta)
          }
        }
      }
  }
}
