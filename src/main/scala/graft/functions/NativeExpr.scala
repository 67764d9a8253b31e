package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Base of graft's native row functions. Each one is a pure function of
  * its child values, `compute`, and declares its child types through
  * Spark's own [[ExpectsInputTypes]] check (a wrong type fails
  * analysis). Interpreted eval calls `compute` after the null check;
  * generated code calls the same method on the expression itself,
  * shipped once per task as a reference object — one virtual call per
  * row, and the enclosing operator stays whole-stage-codegen'd (a
  * CodegenFallback would exclude it from stage fusion). Both paths run
  * one body, so they cannot disagree. A `compute` declared to return
  * `Any` may return null for a null result (the expression must then be
  * nullable); one declared with the result's own type may not.
  */
trait NativeExpr extends Expression with ExpectsInputTypes {

  /** Whether `compute` is declared to return `Any`, so may return null. */
  private lazy val mayReturnNull = getClass.getMethods.exists(m =>
    m.getName == "compute" && !m.isBridge && m.getReturnType == classOf[Object])

  /** Generated code assigning `compute(args)` to `ev.value`. */
  protected def computeCode(ctx: CodegenContext, ev: ExprCode,
                            args: String*): String = {
    val ref = ctx.addReferenceObj(nodeName, this, getClass.getName)
    val call = s"$ref.compute(${args.mkString(", ")})"
    if (!mayReturnNull) s"${ev.value} = $call;"
    else {
      val v = ctx.freshName("result")
      s"""Object $v = $call;
         |if ($v == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $v; }""".stripMargin
    }
  }
}

/** A [[NativeExpr]] of one child whose non-null value is an `I`. */
trait NativeUnary[I] extends UnaryExpression with NativeExpr {

  /** The row function; called from both eval and generated code. */
  def compute(input: I): Any

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[I])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => computeCode(ctx, ev, c))
}

/** A [[NativeUnary]] over bytes: the UTF-8 bytes of a string child, or
  * the raw bytes of a binary one (identical on UTF-8 text, and free of
  * the binary→string cast's replacement-char substitution on
  * non-UTF-8 payloads).
  */
trait NativeBytes extends NativeUnary[Array[Byte]] {

  override def inputTypes = Seq(Bridge.anyOf(StringType, BinaryType))

  override def nullSafeEval(input: Any): Any = compute(input match {
    case s: UTF8String => s.getBytes
    case b: Array[Byte] => b
  })

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => computeCode(ctx, ev,
      if (child.dataType == BinaryType) c else s"$c.getBytes()"))
}

/** A [[NativeExpr]] of two children whose non-null values are an `L`
  * and an `R`.
  */
trait NativeBinary[L, R] extends BinaryExpression with NativeExpr {

  /** The row function; called from both eval and generated code. */
  def compute(left: L, right: R): Any

  override def nullSafeEval(left: Any, right: Any): Any =
    compute(left.asInstanceOf[L], right.asInstanceOf[R])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => computeCode(ctx, ev, l, r))
}
