package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.ImpalaFunctions

/** SparkSessionExtensions entry point: enables the full dialect-function
  * surface and the engine's plan rules at session build time with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * — no Engine call needed. This is the library-distribution analog of
  * the reference's builtin registration at catalog startup
  * (`fe/.../catalog/BuiltinsDb.java`): every function in
  * `ImpalaFunctions.builders` is injected as a session-bound builtin, and
  * [[graft.plans.HoistLiterals]] as a physical rule (the same injection
  * `Engine.session` makes).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.plans.HoistLiterals.inject(ext)
    ImpalaFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.ImpalaFunctions", name),
        builder))
    }
  }
}
