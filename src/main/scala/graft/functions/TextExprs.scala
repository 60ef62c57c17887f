package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native text-normalization expression for corpus cleaning.
  *
  * `nfc_normalize(s)` applies Unicode NFC (canonical composition) —
  * the first step of any web-corpus text pipeline (mismatched
  * combining-character sequences break exact dedup, shingling, and
  * tokenization). Spark has no built-in for it; a Scala UDF would pay
  * serialization + interpretation per row. This expression stays inside
  * whole-stage codegen with one static `java.text.Normalizer` call —
  * both JDK and DuckDB (utf8proc) implement the same Unicode standard,
  * so results hash-match the oracle's `nfc_normalize`.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a STRING input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(a: Any): Any = {
    val s = a.asInstanceOf[UTF8String].toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) {
      a // common case (already-NFC ASCII): skip the copy
    } else {
      UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s")
      s"""
         |String $s = $a.toString();
         |if (java.text.Normalizer.isNormalized(
         |    $s, java.text.Normalizer.Form.NFC)) {
         |  ${ev.value} = $a;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |    java.text.Normalizer.normalize(
         |      $s, java.text.Normalizer.Form.NFC));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(newChild)
}

object TextExprs {
  /** `nfc_normalize(s)` as a typed Column. */
  def nfc(s: Column): Column = column(NfcNormalize(expression(s)))
}
