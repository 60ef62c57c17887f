package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for the embedding hot path (SURVEY §4's
  * sanctioned custom point: "codegen'd cosine expression").
  *
  * The built-in alternative — `aggregate(zip_with(cast(a as
  * array<double>), ...))` — allocates a casted copy of both arrays and
  * evaluates interpreted lambdas per element. These expressions read the
  * float ArrayData directly and emit a tight primitive loop via
  * `doGenCode`, keeping the O(n²·d) similarity kernels inside
  * whole-stage codegen.
  *
  * Accumulation contract (oracle parity): each float is widened to
  * double BEFORE multiply, summed sequentially left-to-right — exactly
  * the semantics of the previous built-in formulation and of DuckDB's
  * `list_inner_product` on DOUBLE[], so results are bit-identical.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "fvec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = math.min(x.numElements(), y.numElements())
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |double $acc = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** sqrt(Σ xᵢ²) over a float array, same widening/order contract. */
case class FloatVectorNorm(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "fvec_norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    while (i < x.numElements()) {
      val v = x.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val acc = ctx.freshName("acc")
      s"""
         |double $acc = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = (double) $a.getFloat($i);
         |  $acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(c)
}

/** 60-bit SimHash from an array of 60-bit token hashes: per bit, count
  * +1/−1 by bit presence across tokens; set the bit when the balance is
  * ≥ 0. One tight codegen'd loop replaces an interpreted
  * aggregate/zip_with/sequence lambda chain (~60 array allocations per
  * token). Semantics identical to the HOF formulation and the DuckDB
  * oracle (LlmOps.simhash). */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(a: Any): Any = {
    val hs = a.asInstanceOf[ArrayData]
    val bal = new Array[Int](60)
    var i = 0
    while (i < hs.numElements()) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 60) {
        bal(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 60) {
      if (bal(b) >= 0) sim |= (1L << b)
      b += 1
    }
    sim
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val bal = ctx.freshName("bal")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val sim = ctx.freshName("sim")
      s"""
         |int[] $bal = new int[60];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 60; $b++) {
         |    $bal[$b] += ((($h >> $b) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $sim = 0L;
         |for (int $b = 0; $b < 60; $b++) {
         |  if ($bal[$b] >= 0) $sim |= (1L << $b);
         |}
         |${ev.value} = $sim;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(c)
}

/** Typed Column constructors for the three vector expressions, so a
  * DataFrame builder reaches them without the session's function
  * registry; the SQL names come from [[graft.plans.GraftExtensions]]. */
object VectorExprs {
  def dot(a: Column, b: Column): Column =
    column(FloatVectorDot(expression(a), expression(b)))
  def norm(v: Column): Column = column(FloatVectorNorm(expression(v)))
  def simhash60(hs: Column): Column = column(SimHash60(expression(hs)))
}
