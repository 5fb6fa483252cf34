package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Expression

/** Arity guard for the graft function builders: the registry hands the
  * builder whatever argument list the SQL call produced, and a bare
  * `args(2)` turns a user typo into IndexOutOfBoundsException instead of
  * an analysis error. Every builder in [[NativeFunctions]] is wrapped, so
  * both registries (GraftFunctions' temp functions and GraftExtensions'
  * injectFunction) fail alike. */
object FnArity {
  def check(name: String, expected: Int, args: Seq[Expression]): Unit =
    if (args.length != expected)
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> expected.toString,
          "actualNum" -> args.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  /** Wraps a builder with the arity check. */
  def checked(name: String, expected: Int)(
      mk: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => { check(name, expected, args); mk(args) }
}
