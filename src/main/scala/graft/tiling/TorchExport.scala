package graft.tiling

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}

import org.apache.spark.sql.Dataset

/** `.pth` interchange — the reference's final artifact (main_code.py:75–78:
  * `torch.save(TensorDataset(tensor_train, tensor_target), "….pth")`).
  * The engine's tile store is Parquet by design (SURVEY D6 — splittable,
  * columnar, 100 TB-scalable where a single pickled tensor file is not),
  * but a reference user's downstream training code calls
  * `torch.load(…, weights_only=False)` on exactly this file, so this
  * converter closes that loop: TileRow rows → one `.pth` that the stock
  * loader accepts.
  *
  * The format is torch's public zipfile serialization (torch ≥ 1.6): a ZIP
  * archive holding `archive/data.pkl` (a pickle-protocol-2 stream in which
  * every tensor is `torch._utils._rebuild_tensor_v2(storage, offset, size,
  * stride, requires_grad, backward_hooks)` and each storage is a
  * persistent-id tuple `('storage', torch.FloatStorage, key, 'cpu',
  * numel)`), one raw little-endian float32 blob per storage under
  * `archive/data/<key>`, and `archive/version`. All entries are STORED
  * (torch's own writer never compresses). No torch at build or test time:
  * the spec validates through a stub-torch unpickler
  * (scripts/check_pth.py) that replays the documented protocol.
  *
  * Scale note: one .pth is inherently a single-machine artifact — the
  * reference materializes the full tensor in RAM too. The export collects
  * tiles to the driver under an EXPLICIT size ceiling with a loud error
  * (the TileKernel/Dedup threshold discipline); beyond it, keep Parquet.
  */
object TorchExport {

  /** Hard ceiling on collected tensor bytes (2 GiB — the reference-scale
    * envelope; also comfortably under the JVM array limit). */
  val MaxExportBytes: Long = 2L << 30

  // ------------------------------------------------------------- pickle

  private final class Pickler {
    val out = new ByteArrayOutputStream()
    def raw(bs: Array[Byte]): Unit = out.write(bs)
    def op(b: Int): Unit = out.write(b)
    def proto2(): Unit = { op(0x80); op(2) }
    def global(module: String, name: String): Unit = {
      op('c'); raw(s"$module\n$name\n".getBytes("ASCII"))
    }
    def str(s: String): Unit = { // BINUNICODE
      val b = s.getBytes("UTF-8")
      op('X')
      val lb = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(b.length)
      raw(lb.array()); raw(b)
    }
    def int(v: Long): Unit = {
      if (v >= 0 && v < 256) { op('K'); op(v.toInt) } // BININT1
      else if (v >= Int.MinValue && v <= Int.MaxValue) { // BININT
        op('J')
        raw(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
          .putInt(v.toInt).array())
      } else { // LONG1 little-endian two's complement
        var n = 8
        while (n > 1 && (v >> ((n - 1) * 8 - 1)) == 0) n -= 1
        op(0x8A); op(n)
        var i = 0
        while (i < n) { op(((v >> (i * 8)) & 0xFF).toInt); i += 1 }
      }
    }
    def bool(b: Boolean): Unit = op(if (b) 0x88 else 0x89)
    def mark(): Unit = op('(')
    def tupleFromMark(): Unit = op('t')
    def emptyTuple(): Unit = op(')')
    def newObj(): Unit = op(0x81)
    def reduce(): Unit = op('R')
    def build(): Unit = op('b')
    def emptyDict(): Unit = op('}')
    def setItem(): Unit = op('s')
    def persId(): Unit = op('Q')
    def stop(): Unit = op('.')
  }

  /** Pickle one tensor: storage key → (dims). Pushes the rebuilt tensor. */
  private def pickleTensor(p: Pickler, key: Int, dims: Seq[Int]): Unit = {
    p.global("torch._utils", "_rebuild_tensor_v2")
    p.mark()
    // arg 1: the storage, via persistent id
    p.mark()
    p.str("storage")
    p.global("torch", "FloatStorage")
    p.str(key.toString)
    p.str("cpu")
    p.int(dims.map(_.toLong).product)
    p.tupleFromMark()
    p.persId()
    // arg 2: storage_offset
    p.int(0)
    // arg 3: size, arg 4: contiguous row-major strides
    p.mark(); dims.foreach(d => p.int(d)); p.tupleFromMark()
    val strides = dims.indices.map(i => dims.drop(i + 1).map(_.toLong).product)
    p.mark(); strides.foreach(s => p.int(s)); p.tupleFromMark()
    // arg 5: requires_grad, arg 6: backward_hooks = OrderedDict()
    p.bool(false)
    p.global("collections", "OrderedDict")
    p.emptyTuple()
    p.reduce()
    p.tupleFromMark()
    p.reduce()
  }

  /** data.pkl for `TensorDataset(t0, t1, …)` with storages keyed 0,1,…. */
  private def pickleTensorDataset(shapes: Seq[Seq[Int]]): Array[Byte] = {
    val p = new Pickler
    p.proto2()
    p.global("torch.utils.data.dataset", "TensorDataset")
    p.emptyTuple()
    p.newObj() // cls.__new__(cls)
    // state: {'tensors': (t0, t1, …)}
    p.emptyDict()
    p.str("tensors")
    p.mark()
    shapes.zipWithIndex.foreach { case (dims, k) => pickleTensor(p, k, dims) }
    p.tupleFromMark()
    p.setItem()
    p.build()
    p.stop()
    p.out.toByteArray
  }

  // ---------------------------------------------------------------- zip

  private def storedEntry(zos: ZipOutputStream, name: String,
                          data: Array[Byte]): Unit = {
    val e = new ZipEntry(name)
    e.setMethod(ZipEntry.STORED)
    e.setSize(data.length.toLong)
    val crc = new CRC32(); crc.update(data)
    e.setCrc(crc.getValue)
    zos.putNextEntry(e)
    zos.write(data)
    zos.closeEntry()
  }

  private def floatsLE(a: Array[Float]): Array[Byte] = {
    val bb = ByteBuffer.allocate(a.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < a.length) { bb.putFloat(a(i)); i += 1 }
    bb.array()
  }

  /** Write `TensorDataset(tensors…)` as a torch-loadable `.pth`. Each
    * tensor = (row-major float32 data, dims). */
  def writePth(path: String, tensors: Seq[(Array[Float], Seq[Int])],
               maxBytes: Long = MaxExportBytes): Unit = {
    require(tensors.nonEmpty, "empty dataset")
    tensors.foreach { case (data, dims) =>
      require(data.length.toLong == dims.map(_.toLong).product,
        s"data length ${data.length} != shape ${dims.mkString("x")}")
    }
    val totalBytes = tensors.map(_._1.length.toLong * 4).sum
    require(totalBytes <= maxBytes,
      s"$totalBytes tensor bytes exceed the export ceiling ($maxBytes): " +
        "a single .pth is a single-machine artifact - keep the Parquet " +
        "tile store (PipelineCli tile) for datasets past the reference scale")
    val zos = new ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    try {
      storedEntry(zos, "archive/data.pkl",
        pickleTensorDataset(tensors.map(_._2)))
      tensors.zipWithIndex.foreach { case ((data, _), k) =>
        storedEntry(zos, s"archive/data/$k", floatsLE(data))
      }
      storedEntry(zos, "archive/version", "3\n".getBytes("ASCII"))
    } finally zos.close()
  }

  /** The reference's exact artifact from engine tiles: collect TileRows
    * (ordered by pair_id, tile_id — the reference's concat order), stack
    * LR crops as `tensor_train` and HR crops as `tensor_target`, save
    * `TensorDataset(train, target)`. Returns the tile count. */
  def writeTileDatasetPth(tiles: Dataset[TileRow], path: String,
                          nBands: Int): Long = {
    val rows = tiles.orderBy("pair_id", "tile_id").collect()
    require(rows.nonEmpty, "no tiles to export")
    val batch = rows.head.b
    val scale = rows.head.s
    val lrEdge = batch / scale
    val n = rows.length
    val hr = new Array[Float](n * nBands * batch * batch)
    val lr = new Array[Float](n * nBands * lrEdge * lrEdge)
    var i = 0
    while (i < n) {
      System.arraycopy(rows(i).hr, 0, hr, i * nBands * batch * batch,
        nBands * batch * batch)
      System.arraycopy(rows(i).lr, 0, lr, i * nBands * lrEdge * lrEdge,
        nBands * lrEdge * lrEdge)
      i += 1
    }
    writePth(path, Seq(
      (lr, Seq(n, nBands, lrEdge, lrEdge)),   // tensor_train (LR input)
      (hr, Seq(n, nBands, batch, batch))))    // tensor_target (HR truth)
    n.toLong
  }
}
