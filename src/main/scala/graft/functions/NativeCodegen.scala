package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** Whole-stage-codegen participation for kernel expressions whose per-row
  * work is an opaque JVM method (tight primitive loop, document parse, codec)
  * rather than something worth inlining as Java source.
  *
  * `CodegenFallback` would not kill the surrounding stage in Spark 4, but it
  * re-enters the interpreted path per row and boxes at every kernel boundary.
  * The right shape is one virtual call through a `ctx.addReferenceObj`
  * handle: the surrounding project/filter fuses into a single generated
  * function and the kernel stays a monomorphic JIT-compiled method. The
  * fused jq pipeline ([[graft.jq.JqNativeInput]]) uses the same template.
  */
trait NativeUnaryCodegen extends UnaryExpression {

  /** Public bridge for generated code (nullSafeEval is protected). A null
    * return means SQL NULL (kernels use it for domain errors). */
  def evalInput(v: Any): Any = nullSafeEval(v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this, classOf[NativeUnaryCodegen].getName)
    val childGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val obj = ctx.freshName("kernelOut")
    ev.copy(code =
      code"""
         |${childGen.code}
         |boolean ${ev.isNull} = ${childGen.isNull};
         |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
         |if (!${ev.isNull}) {
         |  Object $obj = $ref.evalInput(${childGen.value});
         |  if ($obj == null) { ${ev.isNull} = true; } else { ${ev.value} = ($boxed) $obj; }
         |}
       """.stripMargin)
  }
}

/** Binary twin of [[NativeUnaryCodegen]]. */
trait NativeBinaryCodegen extends BinaryExpression {

  def evalInputs(l: Any, r: Any): Any = nullSafeEval(l, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernel", this, classOf[NativeBinaryCodegen].getName)
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val obj = ctx.freshName("kernelOut")
    ev.copy(code =
      code"""
         |${leftGen.code}
         |${rightGen.code}
         |boolean ${ev.isNull} = true;
         |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
         |if (!${leftGen.isNull} && !${rightGen.isNull}) {
         |  Object $obj = $ref.evalInputs(${leftGen.value}, ${rightGen.value});
         |  if ($obj != null) { ${ev.isNull} = false; ${ev.value} = ($boxed) $obj; }
         |}
       """.stripMargin)
  }
}
