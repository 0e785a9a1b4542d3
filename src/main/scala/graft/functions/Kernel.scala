package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The one base of the native Catalyst kernels in `graft.functions`
  * ([[UnaryKernel]], [[BinaryKernel]]) — the step past a Scala UDF:
  * inputs stay Catalyst values (`ArrayData`, `UTF8String`, `byte[]`;
  * no Seq boxing, no converters), evaluation is one primitive loop in
  * the kernel's `compute`, and the generated code calls that same
  * `compute`, so the projection stays inside the surrounding
  * whole-stage-codegen span instead of breaking it the way `ScalaUDF`
  * or `CodegenFallback` does.
  *
  * A kernel declares its input types and whether `compute` can return
  * null; the base owns the rest:
  *  - the input-type check: each child's type must equal its declared
  *    type, an array's `containsNull` ignored (file sources force it to
  *    true on every array read back from parquet), else analysis fails
  *    with "<name> expects <declared>, got <actual>";
  *  - interpreted evaluation: a NULL input yields NULL without calling
  *    `compute` (the null-safe wrapper), any other input is `compute`d;
  *  - code generation: one call of `compute` on the kernel object. Its
  *    result is assigned directly, so `compute` must return the Java
  *    type of `dataType` (`long`, `double`, `ArrayData`, ...; a
  *    primitive stays unboxed). Under `nullResult` the result is first
  *    checked for null, and a primitive `dataType` comes back boxed
  *    (`compute` returns `Any`). A kernel that can return null must
  *    also be `nullable`.
  *
  * The two bases are `Serializable` themselves: the plan ships each
  * kernel to the executors, and Java serialization rebuilds an object
  * through the no-argument constructor of its first non-serializable
  * superclass, which a base with constructor arguments lacks. */
private[functions] sealed trait Kernel extends Expression {
  protected def argTypes: Seq[DataType]
  protected def nullResult: Boolean

  override def checkInputDataTypes(): TypeCheckResult = {
    def same(want: DataType, got: DataType): Boolean = (want, got) match {
      case (ArrayType(w, _), ArrayType(g, _)) => w == g
      case _ => want == got
    }
    def show(ts: Seq[DataType]): String = ts.map(_.simpleString) match {
      case Seq(t) => t
      case many => many.mkString("(", ", ", ")")
    }
    val got = children.map(_.dataType)
    if (got.corresponds(argTypes)((g, w) => same(w, g))) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ${show(argTypes)}, got ${show(got)}")
  }

  /** The statement that sets `ev` from `compute(args)`. */
  protected def computeCode(ctx: CodegenContext, ev: ExprCode, args: String*): String = {
    val call = s"${ctx.addReferenceObj(prettyName, this)}.compute(${args.mkString(", ")})"
    if (!nullResult) s"${ev.value} = $call;"
    else {
      val r = ctx.freshName("result")
      val javaType = CodeGenerator.javaType(dataType)
      val (rType, value) =
        if (!CodeGenerator.isPrimitiveType(dataType)) (javaType, r)
        else ("Object", s"((${CodeGenerator.boxedType(dataType)}) $r).${javaType}Value()")
      s"""
        $rType $r = $call;
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $value; }
      """
    }
  }
}

/** A one-input [[Kernel]]: `compute(in: I): O`, input type `argType`. */
abstract class UnaryKernel[I, O](argType: DataType, protected val nullResult: Boolean = false)
    extends UnaryExpression with Kernel with Serializable {
  def compute(in: I): O

  protected def argTypes: Seq[DataType] = Seq(argType)

  override protected def nullSafeEval(in: Any): Any = compute(in.asInstanceOf[I])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, computeCode(ctx, ev, _))
}

/** A two-input [[Kernel]]: `compute(a: A, b: B): O`, input types
  * (`leftType`, `rightType`). */
abstract class BinaryKernel[A, B, O](leftType: DataType, rightType: DataType,
    protected val nullResult: Boolean = false)
    extends BinaryExpression with Kernel with Serializable {
  def compute(a: A, b: B): O

  protected def argTypes: Seq[DataType] = Seq(leftType, rightType)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[A], b.asInstanceOf[B])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, computeCode(ctx, ev, _, _))
}
