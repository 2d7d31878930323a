package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash fingerprint of a token array, on the PORTABLE hash
  * family (the role [[PortableMinHash]] plays for q48): the per-token hash
  * is plain wrapping arithmetic a DuckDB oracle reproduces —
  *
  *   x = rolling31 over the token's bytes (unsigned fold), mod 2^32
  *       (keeping A·x inside 128-bit HUGEINT),
  *   h = (A·x + B) mod 2^64   (A/B = the Mix64 constants),
  *   f = h XOR (h >>> 32)     (folds the well-mixed high bits down —
  *       the low bits of a multiply-add alone are nearly linear in x,
  *       which would bias the low fingerprint bits),
  *
  * then ±1 bit-position voting, sign → fingerprint bit. Documents
  * differing in a few tokens land within small hamming distance; the
  * banding in graft.dedup.Dedup.simhashPairsPortable turns that into a
  * shuffle-joinable key.
  */
object PortableSimHash {
  def tokenHash(bytes: Array[Byte]): Long = {
    var r = PortableMinHash.Seed
    var i = 0
    while (i < bytes.length) { r = r * 31L + (bytes(i) & 0xFF); i += 1 }
    val h = Mix64.MulA * (r & 0xFFFFFFFFL) + Mix64.AddB
    h ^ (h >>> 32)
  }

  def simhash64Portable(tokens: Column): Column =
    toColumn(SimHash64Portable(toExpr(tokens)))

  def ofArray(arr: ArrayData): Long = {
    val counters = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = tokenHash(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

case class SimHash64Portable(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64_portable requires ARRAY<STRING>, got ${other.catalogString}")
  }
  override def nullSafeEval(v: Any): Any =
    PortableSimHash.ofArray(v.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): SimHash64Portable =
    copy(child = newChild)
  override def prettyName: String = "simhash64_portable"
}
