package graft.ops.expr

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}

/** The one way a static kernel method becomes a Catalyst expression.
  *
  * A kernel is a static method on a companion object (`Fnv1a64.hash`,
  * `VecMath.dot`, …) that interpreted eval and generated code both call. Its
  * case class extends [[UnaryKernel]] or [[BinaryKernel]] and declares only
  * its SQL name, the input types it accepts, the method, the method's
  * constant arguments and its output type; the base owns the type check, the
  * SQL name and the generated call `graft.ops.expr.<method>(<children>,
  * <constants>)`, the same static-call `defineCodeGen` Spark's own `XxHash64`
  * uses, so no kernel breaks a whole-stage codegen span. Each case class
  * keeps its one-line `nullSafeEval` and its `withNew…Internal` copy, which
  * `TreeNode` transforms need.
  *
  * The bases take constructor arguments and the Catalyst classes above them
  * are not `Serializable`, so the bases are: a kernel expression ships to
  * executors whole on the interpreted path.
  */
abstract class UnaryKernel(sqlName: String, in: In, method: String)
    extends UnaryExpression with Serializable {
  /** Constant arguments the static call takes after the child. */
  protected def constants: Seq[Any] = Nil
  /** The generated static call with these arguments. */
  protected def call(args: Seq[Any]): String = Kernel.call(method, args)

  override def prettyName: String = sqlName
  override def checkInputDataTypes(): TypeCheckResult =
    Kernel.check(sqlName, Seq(in), Seq(child))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => call(c +: constants))
}

/** [[UnaryKernel]] over two children. */
abstract class BinaryKernel(sqlName: String, inLeft: In, inRight: In, method: String)
    extends BinaryExpression with Serializable {
  /** Constant arguments the static call takes after the children. */
  protected def constants: Seq[Any] = Nil

  override def prettyName: String = sqlName
  override def checkInputDataTypes(): TypeCheckResult =
    Kernel.check(sqlName, Seq(inLeft, inRight), Seq(left, right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => Kernel.call(method, Seq(a, b) ++ constants))
}

/** An input type a kernel accepts, by the name type-check failures give it. */
final class In private (val name: String, val accepts: DataType => Boolean) extends Serializable

object In {
  private def arrayOf(elem: DataType => Boolean)(t: DataType): Boolean = t match {
    case ArrayType(e, _) => elem(e)
    case _ => false
  }

  val Str = new In("string", _ == StringType)
  val Bigint = new In("bigint", _ == LongType)
  val Strings = new In("array<string>", arrayOf(_ == StringType))
  val Bigints = new In("array<bigint>", arrayOf(_ == LongType))
  val Vec = new In("array<float|double>", arrayOf(e => e == FloatType || e == DoubleType))
  /** A codebook: quantized centroids (exact mode) or double centroids. */
  val Centroids = new In("array<array<bigint|double>>",
    arrayOf(arrayOf(e => e == LongType || e == DoubleType)))

  /** Whether a [[Vec]] input holds floats (else doubles) — the flag the
    * vector kernels take as a constant argument. */
  def isFloat(e: Expression): Boolean = e.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

object Kernel {
  private[expr] def check(name: String, want: Seq[In], children: Seq[Expression]): TypeCheckResult =
    if (want.zip(children).forall { case (w, c) => w.accepts(c.dataType) }) TypeCheckSuccess
    else TypeCheckFailure(s"$name requires ${want.map(_.name).mkString("(", ", ", ")")}, " +
      s"got ${children.map(_.dataType).mkString("(", ", ", ")")}")

  private[expr] def call(method: String, args: Seq[Any]): String =
    s"graft.ops.expr.$method(${args.mkString(", ")})"

  /** A kernel expression over a Column, as a Column. */
  def column(c: Column)(make: Expression => Expression): Column =
    GraftBridge.column(make(GraftBridge.expression(c)))

  /** A kernel expression over two Columns, as a Column. */
  def column(a: Column, b: Column)(make: (Expression, Expression) => Expression): Column =
    column(a)(make(_, GraftBridge.expression(b)))
}
