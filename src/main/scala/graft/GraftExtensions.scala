package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.NativeFunctions

/** Spark extensions entry point: lets any session pick up graft's native
  * expressions at build time —
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * (Sessions built by graft itself get the same functions via
  * `Tables.tune`, which registers post-hoc; this class is for sessions
  * graft does not construct, e.g. spark-submit / Thrift server users
  * calling `graft_dot` from SQL. Both paths register the same table,
  * `graft.functions.NativeFunctions`, whose builders are arity-guarded:
  * wrong-arity SQL calls get WRONG_NUM_ARGS, not
  * IndexOutOfBoundsException.)
  *
  * Such sessions should also size the generated-code cache at build
  * time, `.config("spark.sql.codegen.cache.maxEntries", "1000")` as
  * `Tables.tune` does: it is a static conf that Spark reads once, at the
  * JVM's first compile, and at its default of 100 entries re-running
  * graft's plans recompiles them (see `Tables.tune`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    NativeFunctions.all.foreach(f =>
      ext.injectFunction((new FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.builder)))
    // HOF dot-product → native graft_dot rewrite (semantics-guarded)
    ext.injectOptimizerRule(_ => graft.plans.NativeVectorRewrite)
    // whole-operator as-of join: logical node → sorted-merge SparkPlan
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
