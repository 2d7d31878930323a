package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Bijective base-26 ("spreadsheet letters") encoding: 1 → "a", 26 → "z",
  * 27 → "aa", 28 → "ab", … Lowercase, as the reference's weekly class labels
  * (reference: main_function_original.py:43–48 via the recovered
  * `LS_DataList.new_class_list` semantics, SURVEY.md §0.1 — labels observed in
  * data_pair/S_out.csv / L_out.csv reach "aw"/"ax").
  */
object Base26 {
  /** n must be >= 1; n <= 0 yields "" (never produced by the labeling flow). */
  def letters(n: Long): UTF8String = {
    var x = n
    val sb = new java.lang.StringBuilder(4)
    while (x > 0) {
      x -= 1
      sb.append(('a' + (x % 26)).toChar)
      x /= 26
    }
    UTF8String.fromString(sb.reverse.toString)
  }
}

/** Native Catalyst expression (whole-stage-codegen'd) for [[Base26.letters]]. */
case class BijectiveBase26(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"base26 requires BIGINT input, got ${child.dataType.catalogString}")
  override def nullSafeEval(v: Any): Any = Base26.letters(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Base26.letters($c)")
  override protected def withNewChildInternal(newChild: Expression): BijectiveBase26 =
    copy(child = newChild)
  override def prettyName: String = "base26"
}
