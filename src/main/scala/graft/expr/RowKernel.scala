package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The one form of a graft row kernel: a Catalyst expression whose whole
  * computation is ONE static method, called by the interpreted
  * `nullSafeEval` and by the single call `doGenCode` emits alike. Both
  * paths therefore run the same JIT-compiled loop and cannot drift apart,
  * and the expression stays inside WholeStageCodegen (no
  * `CodegenFallback`) under its own name in executed plans.
  *
  * A kernel declares its `prettyName` and `dataType`, the `inputType`
  * every child must have, the fully qualified static method `kernel`, its
  * constant arguments and a one-line `nullSafeEval` calling that method;
  * [[UnaryKernel]] and [[BinaryKernel]] own the type check and the
  * generated call. The call passes the children's values first, then the
  * constants: an Int as a Java literal, anything else (the SRP
  * planes, a Bloom bitset) as one `ctx.addReferenceObj` reference per
  * generated class, never a per-row literal. A kernel that returns null
  * for a non-null input (a boxed Long or a null ArrayData) sets
  * `nullResult`, which makes the expression nullable and gives the call
  * one shared null branch. */
sealed trait RowKernel extends Expression {
  protected def inputType: DataType
  protected def kernel: String
  protected def constants: Seq[Any] = Nil
  protected def nullResult: Boolean = false

  override def nullable: Boolean = nullResult || children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = {
    def accepted(t: DataType): Boolean = (inputType, t) match {
      case (ArrayType(want, _), ArrayType(got, _)) => want == got
      case (want, got) => want == got
    }
    if (children.forall(c => accepted(c.dataType))) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ${children.map(_ => inputType.simpleString).mkString(", ")}, " +
        s"got ${children.map(_.dataType.simpleString).mkString(", ")}")
  }

  protected def kernelCall(ctx: CodegenContext, ev: ExprCode, inputs: Seq[String]): String = {
    val consts = constants.map {
      case i: Int => i.toString
      case o: AnyRef => ctx.addReferenceObj("kernelConst", o, o.getClass.getCanonicalName)
    }
    val call = s"$kernel(${(inputs ++ consts).mkString(", ")})"
    if (!nullResult) s"${ev.value} = $call;"
    else {
      val r = ctx.freshName("r")
      val value =
        if (CodeGenerator.isPrimitiveType(dataType)) s"$r.${CodeGenerator.javaType(dataType)}Value()"
        else r
      s"""${CodeGenerator.boxedType(dataType)} $r = $call;
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $value; }""".stripMargin
    }
  }
}

/** A [[RowKernel]] over one input column. */
abstract class UnaryKernel extends UnaryExpression with RowKernel {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => kernelCall(ctx, ev, Seq(c)))
}

/** A [[RowKernel]] over two input columns of the same type. */
abstract class BinaryKernel extends BinaryExpression with RowKernel {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => kernelCall(ctx, ev, Seq(a, b)))
}
