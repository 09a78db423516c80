package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Size of the code that whole-stage codegen generates for a physical
  * plan. HotSpot does not JIT-compile a method of more than
  * [[HugeMethodLimit]] bytes of bytecode (`-XX:+DontCompileHugeMethods`,
  * the default), so a stage whose largest method is above it runs
  * interpreted however hot it is.
  */
object CodegenStats extends AdaptiveSparkPlanHelper {

  /** HotSpot's huge-method limit, in bytes of bytecode. */
  val HugeMethodLimit = 8000

  /** The bytecode size of the largest generated method of each
    * whole-stage codegen stage in `plan` (adaptive plans included), by
    * codegen stage id. Each stage's code is generated and compiled again,
    * as `Dataset.debugCodegen` does; nothing runs. */
  def maxMethodBytes(plan: SparkPlan): Map[Int, Int] =
    collect(plan) { case w: WholeStageCodegenExec => w }.map { w =>
      val (_, code) = w.doCodeGen()
      w.codegenStageId -> CodeGenerator.compile(code)._2.maxMethodCodeSize
    }.toMap
}
